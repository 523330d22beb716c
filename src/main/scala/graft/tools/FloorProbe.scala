package graft.tools

/** Dev aid (round 16): quantify the fixed per-query cost components the
  * bench pays 216 times — parquet schema inference + file listing at
  * read() time, job scheduling at materialize() time — so optimization
  * effort goes where the seconds are. Not part of any declared query. */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cpus(32), "graft-floorprobe", "ERROR")
    def timeN(n: Int)(f: => Unit): Double = {
      f // warm
      val t0 = System.nanoTime(); (1 to n).foreach(_ => f)
      (System.nanoTime() - t0) / 1e9 / n
    }
    val tRead = timeN(50)(graft.Tables.lineitem(spark, sf))
    val liSchema = graft.Tables.lineitem(spark, sf).schema
    val tReadExplicit = timeN(50) {
      spark.read.schema(liSchema).parquet(s"$sf/lineitem.parquet"); ()
    }
    val tReadExplicitAnalyzed = timeN(50) {
      spark.read.schema(liSchema).parquet(s"$sf/lineitem.parquet").schema; ()
    }
    val tSmallRead = timeN(50)(graft.Tables.region(spark, sf))
    val tReadAnalyzed = timeN(50) {
      graft.Tables.lineitem(spark, sf).schema; ()
    }
    val tEmptyJob = timeN(50) {
      spark.sparkContext.parallelize(1 to 32, 32).count(); ()
    }
    val tTrivialQuery = timeN(20) {
      val df = graft.Tables.region(spark, sf)
        .selectExpr("r_regionkey", "upper(r_name) u")
      df.queryExecution.toRdd.count(); ()
    }
    val tShuffleQuery = timeN(20) {
      val df = graft.Tables.region(spark, sf).groupBy("r_name")
        .count().orderBy("r_name")
      df.queryExecution.toRdd.count(); ()
    }
    println(f"read()+plan           : ${tRead * 1000}%8.1f ms")
    println(f"read(schema)+plan     : ${tReadExplicit * 1000}%8.1f ms")
    println(f"read(schema)+analyze  : ${tReadExplicitAnalyzed * 1000}%8.1f ms")
    println(f"read() small table    : ${tSmallRead * 1000}%8.1f ms")
    println(f"read()+analyze        : ${tReadAnalyzed * 1000}%8.1f ms")
    println(f"empty 32-task job     : ${tEmptyJob * 1000}%8.1f ms")
    println(f"trivial scan query    : ${tTrivialQuery * 1000}%8.1f ms")
    println(f"1-shuffle tiny query  : ${tShuffleQuery * 1000}%8.1f ms")
    spark.stop()
  }
}
