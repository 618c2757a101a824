package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** `Tables.t` resolves each file's schema once per file version and read
  * settings, then reads with that schema, so repeated builder calls start
  * no schema-inference job.
  */
class TablesSchemaCacheSpec extends SparkSpecBase {
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings", "events")

  private def withNanosAsLong[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("schema equals the schema Spark infers from the file") {
    withNanosAsLong(true) {
      for (t <- tables)
        assert(Tables.t(spark, sf, t).schema ==
          spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
  }

  test("a second read of the same file starts no Spark job") {
    for (t <- tables.filter(_ != "events")) {
      Tables.t(spark, sf, t)
      assert(JobCount.of(spark)(Tables.t(spark, sf, t)).jobs == 0, t)
    }
    Tables.events(spark, sf)
    assert(JobCount.of(spark)(Tables.events(spark, sf)).jobs == 0)
  }

  test("each call gets its own relation, so a self-join resolves") {
    val a = Tables.t(spark, sf, "region")
    val b = Tables.t(spark, sf, "region")
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    assert(a.join(b, a("r_regionkey") === b("r_regionkey")).count() ==
      a.count())
  }

  test("rewriting the file at the same path picks up the new schema") {
    val dir = Files.createTempDirectory("graft-tables")
    val target = dir.resolve("t.parquet")
    try {
      Files.copy(Paths.get(s"$sf/region.parquet"), target)
      assert(Tables.t(spark, dir.toString, "t").schema ==
        spark.read.parquet(s"$sf/region.parquet").schema)
      Files.copy(Paths.get(s"$sf/nation.parquet"), target,
        StandardCopyOption.REPLACE_EXISTING)
      val nation = spark.read.parquet(s"$sf/nation.parquet")
      val reread = Tables.t(spark, dir.toString, "t")
      assert(reread.schema == nation.schema)
      assert(reread.count() == nation.count())
    } finally {
      Files.deleteIfExists(target)
      Files.deleteIfExists(dir)
    }
  }

  /** A two-column events file whose `ts` is INT64 TIMESTAMP(NANOS), the
    * physical form the nanosAsLong setting exists for. */
  private def writeNanosEvents(dir: java.nio.file.Path): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); " +
        "required int64 id; }")
    val w = ExampleParquetWriter
      .builder(new Path(dir.resolve("events.parquet").toString))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try {
      val g = new SimpleGroupFactory(schema)
      for (i <- 0 until 3)
        w.write(g.newGroup().append("ts", 1700000000123456789L + i)
          .append("id", i.toLong))
    } finally w.close()
  }

  test("nanosAsLong is part of the key: nanos ts is LongType only with it on") {
    val dir = Files.createTempDirectory("graft-nanos")
    try {
      writeNanosEvents(dir)
      withNanosAsLong(true) {
        assert(Tables.t(spark, dir.toString, "events").schema("ts").dataType
          == LongType)
      }
      // the schema resolved with the setting on must not serve this read
      withNanosAsLong(false) {
        val e = intercept[AnalysisException](
          Tables.t(spark, dir.toString, "events"))
        assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"))
      }
      val secs = Tables.events(spark, dir.toString)
        .select("ts_sec").collect().map(_.getLong(0))
      assert(secs.toSeq == Seq.fill(3)(1700000000L))
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("timestamp[us] events read as TIMESTAMP_NTZ with nanosAsLong on or off") {
    for (on <- Seq(true, false)) withNanosAsLong(on) {
      assert(Tables.t(spark, sf, "events").schema("ts").dataType ==
        TimestampNTZType, s"nanosAsLong=$on")
    }
  }
}
