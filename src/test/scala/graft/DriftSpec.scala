package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-15 generalization of the events-reader drift hardening to
  * every base table (VERDICT r14 top-next): the r13 testdata
  * regeneration burned a round because ONE reader hard-assumed ONE
  * parquet encoding. `Tables.read` now probes the footer and
  * normalizes drifted columns back to the canonical Spark-side schema
  * for ALL 10 tables; these tests regenerate tables with changed
  * encodings and assert (a) the read adapts with identical values,
  * (b) a missing canonical column fails with a NAMED reason, and
  * (c) fault isolation keeps unaffected tables queryable.
  */
class DriftSpec extends SparkSpec {

  private def stage(f: java.io.File => Unit): java.io.File = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift_sf").toFile
    Tables.names.foreach { n =>
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(tmp, s"$n.parquet").toPath,
        new java.io.File(s"$sf/$n.parquet").toPath)
    }
    f(tmp)
    tmp
  }

  private def replace(tmp: java.io.File, name: String)(
      write: String => Unit): Unit = {
    val target = new java.io.File(tmp, s"$name.parquet")
    target.delete()
    write(target.getAbsolutePath)
  }

  test("decimal-encoded money and DATE-encoded dates normalize back to canonical") {
    val tmp = stage { tmp =>
      replace(tmp, "orders") { path =>
        Tables.t(spark, sf, "orders")
          .withColumn("o_totalprice", col("o_totalprice").cast(DecimalType(12, 2)))
          .withColumn("o_orderdate", col("o_orderdate").cast(DateType))
          .write.parquet(path)
      }
    }
    try {
      val drifted = Tables.raw(spark, tmp.getAbsolutePath, "orders")
      assert(drifted.schema("o_totalprice").dataType == DoubleType)
      assert(drifted.schema("o_orderdate").dataType == TimestampNTZType)
      val want = Tables.t(spark, sf, "orders")
        .agg(sum("o_totalprice"), count(lit(1))).head()
      val got = drifted.agg(sum("o_totalprice"), count(lit(1))).head()
      assert(got == want, s"decimal drift changed values: $got != $want")
      // DATE → NTZ midnight: day-level content preserved
      val days = Tables.t(spark, sf, "orders")
        .select(date_trunc("DAY", col("o_orderdate"))).distinct().count()
      assert(drifted.select(col("o_orderdate")).distinct().count() == days)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("int-width key drift (int64 nationkey) normalizes to canonical int32") {
    val tmp = stage { tmp =>
      replace(tmp, "nation") { path =>
        Tables.t(spark, sf, "nation")
          .withColumn("n_nationkey", col("n_nationkey").cast(LongType))
          .write.parquet(path)
      }
    }
    try {
      val drifted = Tables.raw(spark, tmp.getAbsolutePath, "nation")
      assert(drifted.schema("n_nationkey").dataType == IntegerType)
      assert(drifted.count() == Tables.t(spark, sf, "nation").count())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("float-width vector drift (array<double>) normalizes to canonical array<float>") {
    val tmp = stage { tmp =>
      replace(tmp, "embeddings") { path =>
        Tables.t(spark, sf, "embeddings")
          .withColumn("embedding", transform(col("embedding"), x => x.cast(DoubleType)))
          .write.parquet(path)
      }
    }
    try {
      val drifted = Tables.raw(spark, tmp.getAbsolutePath, "embeddings")
      assert(drifted.schema("embedding").dataType == ArrayType(FloatType))
      assert(drifted.count() == Tables.t(spark, sf, "embeddings").count())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("a missing canonical column fails with a NAMED per-table reason") {
    val tmp = stage { tmp =>
      replace(tmp, "documents") { path =>
        Tables.t(spark, sf, "documents").drop("text").write.parquet(path)
      }
    }
    try {
      val e = intercept[IllegalArgumentException] {
        Tables.raw(spark, tmp.getAbsolutePath, "documents").count()
      }
      assert(e.getMessage.contains("graft-drift"), e.getMessage)
      assert(e.getMessage.contains("documents"), e.getMessage)
      assert(e.getMessage.contains("text"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("drift in one table leaves the other nine queryable (fault isolation)") {
    val tmp = stage { tmp =>
      replace(tmp, "documents") { path =>
        Tables.t(spark, sf, "documents").drop("text").write.parquet(path)
      }
    }
    try {
      // sub_in registers views over all tables; documents' named drift
      // failure must not take customer/orders down with it
      val rows = SparkEntry.queries("sub_in")(spark, tmp.getAbsolutePath).count()
      assert(rows > 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("views fails fast on a wrong directory (zero tables readable)") {
    val e = intercept[IllegalArgumentException] {
      Tables.views(spark, "/nonexistent/graft_dir")
    }
    assert(e.getMessage.contains("no base table readable"), e.getMessage)
  }

  test("drifted events and documents stream in place with the batch read's normalization") {
    val tmp = stage { tmp =>
      replace(tmp, "events") { path =>
        writeSingleFile(Tables.t(spark, sf, "events")
          .withColumn("value", col("value").cast(DecimalType(12, 2)))
          .withColumn("user_id", col("user_id").cast(IntegerType)), new java.io.File(path))
      }
      // documents as Spark writes a table, a directory of part files:
      // the stream must list inside it, not filter it out of `dir`
      replace(tmp, "documents") { path =>
        Tables.t(spark, sf, "documents")
          .withColumn("n_chars", col("n_chars").cast(IntegerType)).write.parquet(path)
      }
    }
    val dir = tmp.getAbsolutePath
    try {
      val footer = spark.read.parquet(s"$dir/events.parquet").schema
      assert(footer("value").dataType == DecimalType(12, 2), footer.simpleString)
      def fields(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      def rows(df: DataFrame, key: String) = df.orderBy(key).collect().toSeq
      val events = streaming.Streams.drain(
        streaming.Streams.eventsStream(spark, dir), "append", "drift_events")
      val eventsBatch = Tables.raw(spark, dir, "events")
        .withColumn("ts", col("ts").cast(TimestampType))
      assert(fields(events) == Tables.canonical("events").map {
        case ("ts", _) => ("ts", TimestampType)
        case ct => ct
      })
      assert(rows(events, "event_id") == rows(eventsBatch, "event_id"))
      val docs = streaming.Streams.drain(
        streaming.Streams.documentsStream(spark, dir), "append", "drift_documents")
      assert(fields(docs) == Tables.canonical("documents"))
      assert(rows(docs, "doc_id") == rows(Tables.raw(spark, dir, "documents"), "doc_id"))
      // the stream read the files where they live: no staging copy
      val staged = new java.io.File(
        s"${sys.props("java.io.tmpdir")}/graft_stream/${Q.pathKey(dir)}")
      assert(!staged.exists(), s"stream input was copied to $staged")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  test("healthy tables load cast-free (canonical schema matches footer)") {
    // normalization must be a no-op on undrifted data: no Cast node
    // wrapping, so scan pushdown assertions keep holding
    Tables.names.foreach { n =>
      val df = Tables.raw(spark, sf, n)
      val want = StructType(Tables.canonical(n).map { case (c, t) =>
        StructField(c, t)
      })
      assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        want.fields.map(f => (f.name, f.dataType)).toSeq,
        s"$n schema drifted from canonical: ${df.schema.simpleString}")
      assert(!df.queryExecution.analyzed.toString.contains("cast("),
        s"$n healthy read should not insert casts")
    }
  }
}
