package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Pins the Tables.events epoch-ns contract across the physical
  * timestamp types the driver's data generations have shipped:
  * TIMESTAMP(NANOS) arrives as epoch-ns BIGINT (legacy flag),
  * TIMESTAMP(MICROS) — naive or tz-adjusted — must be converted to
  * the same epoch-ns longs. A generation flip must never silently
  * null out or rescale `ts` (round 8's src_json_lines hash miss was
  * exactly this: micros data + a long-schema JSON read → null ts). */
class TablesSpec extends SparkSpec {

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_tables_spec").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Build a DataFrame with `body` and count the Spark jobs the build
    * started, as the query recorder attributes them. */
  private def jobsDuring(body: => DataFrame): (DataFrame, Int) = {
    val (df, rec) = operators.QueryProfile.record(spark)(body)(identity)
    (df, rec.jobsIn(operators.QueryProfile.Construct).size)
  }

  test("a second load of an unchanged table starts no Spark job") {
    val dir = freshDir()
    spark.range(5).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    // the cold load infers the schema with a job: the counter works
    val (_, cold) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(cold >= 1, "cold load should infer the schema with a job")
    val (df, warm) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(warm == 0, s"warm load started $warm job(s)")
    assert(df.count() == 5L)
  }

  test("overwriting a table with a new schema reloads the new schema and rows") {
    val dir = freshDir()
    spark.range(3).select(col("id").as("k"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("k"))
    spark.range(4).select(col("id").as("a"), lit("x").as("b"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val got = Tables.table(spark, dir, "t")
    assert(got.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(got.schema("b").dataType === StringType)
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("a change to a parquet inference conf infers the schema again") {
    val dir = freshDir()
    // written without Spark's schema metadata, which would otherwise
    // decide the type and make the flag moot (as for any non-Spark
    // writer's files): an un-annotated BINARY column
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 k; required binary raw; }")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/t.parquet")).withConf(conf).build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
      g.add("k", 1L)
      g.add("raw", org.apache.parquet.io.api.Binary.fromString("ab"))
      writer.write(g)
    } finally writer.close()
    // a session of its own: the shared session's conf stays untouched
    val s = spark.newSession()
    assert(Tables.table(s, dir, "t").schema("raw").dataType === BinaryType)
    s.conf.set("spark.sql.parquet.binaryAsString", "true")
    val got = Tables.table(s, dir, "t")
    assert(got.schema("raw").dataType === StringType)
    assert(got.select("raw").collect().head.getString(0) == "ab")
  }

  test("a self-join of two loads of one table resolves distinct attributes") {
    val a = Tables.lineitem(spark, sf)
    val b = Tables.lineitem(spark, sf)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val joined = a.join(b, a("l_orderkey") === b("l_orderkey")).count()
    // sum over orders of (lines per order)^2, from a bare read
    val want = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_orderkey").count()
      .agg(sum(col("count") * col("count"))).collect().head.getLong(0)
    assert(joined == want)
  }

  test("a pinned-schema load plans exactly like a bare parquet read") {
    val pinned = Tables.lineitem(spark, sf)
    val bare = spark.read.parquet(s"$sf/lineitem.parquet")
    assert(Bench.planFingerprint(pinned) == Bench.planFingerprint(bare))
  }

  test("events normalizes naive-micros timestamps to epoch-ns longs") {
    val dir = freshDir()
    // 2024-01-01T00:00:07.179 UTC → epoch micros 1704067207179000
    spark.sql(
      """SELECT 1L AS event_id,
        | TIMESTAMP_NTZ'2024-01-01 00:00:07.179' AS ts,
        | 8L AS user_id, 'error' AS event_type, 6.55d AS value,
        | '{}' AS props""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === LongType)
    val ns = got.select("ts").collect().head.getLong(0)
    assert(ns === 1704067207179000L * 1000L)
  }

  test("events passes epoch-ns longs through unchanged") {
    val dir = freshDir()
    spark.range(1)
      .select(col("id").as("event_id"),
        lit(1704067207179000123L).as("ts"),
        lit(8L).as("user_id"), lit("error").as("event_type"),
        lit(6.55d).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === LongType)
    assert(got.select("ts").collect().head.getLong(0) === 1704067207179000123L)
  }

  test("documents normalizes drifted integer widths to the canonical longs") {
    val dir = freshDir()
    spark.sql(
      """SELECT CAST(7 AS INT) AS doc_id, 'hello world' AS text,
        | 'en' AS lang, 'srcA' AS source, CAST(11 AS INT) AS n_chars""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Tables.documents(spark, dir)
    assert(got.schema("doc_id").dataType === LongType)
    assert(got.schema("n_chars").dataType === LongType)
    val r = got.collect().head
    assert(r.getAs[Long]("doc_id") == 7L && r.getAs[Long]("n_chars") == 11L)
  }

  test("embeddings normalizes a double vector to the canonical array<float>") {
    val dir = freshDir()
    spark.sql(
      """SELECT CAST(3 AS INT) AS vec_id,
        | array(CAST(0.5 AS DOUBLE), CAST(-1.25 AS DOUBLE)) AS embedding,
        | CAST(2 AS BIGINT) AS label""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Tables.embeddings(spark, dir)
    assert(got.schema("vec_id").dataType === LongType)
    assert(got.schema("embedding").dataType.asInstanceOf[ArrayType].elementType === FloatType)
    assert(got.schema("label").dataType === IntegerType)
    val r = got.collect().head
    assert(r.getAs[scala.collection.Seq[Float]]("embedding").toSeq == Seq(0.5f, -1.25f))
  }

  test("a generation matching the canonical schema loads with no extra plan nodes") {
    val dir = freshDir()
    spark.sql(
      """SELECT CAST(1 AS BIGINT) AS doc_id, 'x' AS text, 'en' AS lang,
        | 'srcA' AS source, CAST(1 AS BIGINT) AS n_chars""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val plan = Tables.documents(spark, dir).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Project"), plan)
  }

  test("events converts tz-adjusted micros timestamps identically") {
    val dir = freshDir()
    spark.sql(
      """SELECT 1L AS event_id,
        | TIMESTAMP'2024-01-01 00:00:07.179' AS ts,
        | 8L AS user_id, 'error' AS event_type, 6.55d AS value,
        | '{}' AS props""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // tz-adjusted micros (isAdjustedToUTC=true) reads back as
    // TimestampType; session zone is UTC so the instant is the same
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === LongType)
    assert(got.select("ts").collect().head.getLong(0) === 1704067207179000L * 1000L)
  }
}
