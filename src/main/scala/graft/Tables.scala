package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders over the driver testdata layout (`$dir/<name>.parquet`).
  *
  * All engine queries read through here so the scan path is a single
  * choke-point. Default: plain parquet over the local filesystem. Set
  * SPARK_GRAFT_PUFS=1 to route every table read through the `pufs://`
  * lazily-caching FileSystem (graft.sources.PufsFileSystem) with the
  * testdata dir as backing store — same results, byte-range-lazy IO
  * (verified by PufsFsSpec's differential test).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one testdata table. Parquet scan → Catalyst handles column
    * pruning + predicate pushdown; callers must NOT cache or collect.
    *
    * `events.parquet` has shipped with three different `ts` physical
    * types across driver generations: TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read nanos as long via the legacy conf
    * and convert), plain TIMESTAMP(MICROS) with isAdjustedToUTC=false
    * (read as TIMESTAMP_NTZ — cast to TimestampType; sessions pin UTC so
    * the instant is identical), or a session-zoned TIMESTAMP (use as-is).
    * Branching on the OBSERVED schema keeps every lane working no matter
    * which generation of testdata is mounted. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path =
      if (sys.env.get("SPARK_GRAFT_PUFS").contains("1")) {
        val hc = spark.sparkContext.hadoopConfiguration
        hc.set("fs.pufs.impl", "graft.sources.PufsFileSystem")
        // the backing dir rides in the URI authority (the bucket), NOT in
        // shared conf: lazy execution of a plan built against dir A must
        // not resolve against whatever dir was configured last (ADVICE
        // r2). Authority-distinct URIs also cache as distinct FS
        // instances, so no cache disabling is needed.
        val token = "d" + java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
        val prefix = graft.sources.PufsFileSystem.registerBacking(token, dir)
        s"$prefix/$name.parquet"
      } else s"$dir/$name.parquet"
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path)
      raw.schema("ts").dataType match {
        case LongType => // nanos-as-long generation
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => // micros, not UTC-adjusted
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else {
      spark.read.parquet(path)
    }
  }

  /** Register every table as a temp view (for SQL-only surfaces such as
    * GROUPING SETS — Spark SQL shares the same Catalyst plans). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
