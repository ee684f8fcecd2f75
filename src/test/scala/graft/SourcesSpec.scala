package graft

class SourcesSpec extends SparkSpec {

  test("delimited text roundtrip preserves the nation join") {
    val rows = queries.SourcesSinks.delimitedText(spark, sf).collect()
    assert(rows.length == 25)
    assert(rows.map(_.getAs[Int]("n_nationkey")).toSeq == (0 until 25))
  }

  test("quoted csv roundtrip survives delimiters, quotes, and embedded newlines") {
    import org.apache.spark.sql.types._
    val rows = queries.SourcesSinks.csvQuoted(spark, sf).collect()
    assert(rows.length == 25)
    for (r <- rows) {
      val tricky = r.getAs[String]("tricky")
      assert(tricky.endsWith(",\"quoted\"\nline2|tail"), tricky)
      assert(r.getAs[Int]("tricky_len") == tricky.length)
    }
    // control: the same file under a naive dialect (no multiLine) splits
    // records at the embedded newline — this data corrupts without
    // real quote/escape handling
    val path = queries.SourcesSinks.tmp(spark, sf, "nation_csv_quoted")
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("tricky", StringType),
      StructField("n_regionkey", IntegerType)))
    val naive = spark.read.schema(schema)
      .option("header", "true").csv(path).count()
    assert(naive > 25, s"naive parse should over-split, got $naive records")
  }

  test("backslash-escape csv: roundtrip exact, on-disk bytes use the \\ dialect") {
    import org.apache.spark.sql.types._
    val rows = queries.SourcesSinks.csvEscaped(spark, sf).collect()
    assert(rows.length == 25)
    for (r <- rows) {
      val tricky = r.getAs[String]("tricky")
      assert(tricky.endsWith("""\esc"q"|d,e""" + "\ntail"), tricky)
      assert(r.getAs[Int]("tricky_len") == tricky.length)
    }
    // the written bytes must carry backslash-escaped quotes (\" and
    // \\), NOT RFC 4180 doubled quotes — otherwise this is csvQuoted
    // under another name
    val dir = new java.io.File(queries.SourcesSinks.tmp(spark, sf, "nation_csv_escaped"))
    val part = dir.listFiles().filter(_.getName.endsWith(".csv")).head
    val bytes = new String(java.nio.file.Files.readAllBytes(part.toPath), "UTF-8")
    assert(bytes.contains("\\\""), "no backslash-escaped quote on disk")
    assert(bytes.contains("\\\\"), "raw backslash not self-escaped on disk")
    assert(!bytes.contains("\"\"\"q\"\""), "found RFC-doubled quotes; wrong dialect")
    // hostile-input control: reading these bytes with the RFC dialect
    // (escape = quote) mis-parses the payload — the dialect knob is
    // load-bearing, not cosmetic
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("tricky", StringType),
      StructField("n_regionkey", IntegerType)))
    val wrongDialect = spark.read.schema(schema)
      .option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .option("multiLine", "true")
      .csv(dir.getAbsolutePath)
      .collect()
    val wanted = rows.map(_.getAs[String]("tricky")).toSet
    assert(wrongDialect.exists(r => !wanted.contains(r.getAs[String]("tricky"))),
      "RFC dialect parsed the backslash file cleanly — payload not hostile enough")
  }

  test("gzip csv roundtrip: files are actually gzipped and aggregates are exact") {
    import org.apache.spark.sql.functions._
    val got = queries.SourcesSinks.csvGzip(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    val want = graft.sources.Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got == want)
    val files = new java.io.File(queries.SourcesSinks.tmp(spark, sf, "orders_csv_gz"))
      .listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(files.nonEmpty && files.forall(_.endsWith(".csv.gz")), files.mkString(","))
  }

  test("corrupt json lines are quarantined, counted, and never abort the read") {
    val rows = queries.SourcesSinks.jsonCorrupt(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("_corrupt") == 3, s"expected exactly 3 quarantined lines: $rows")
    val direct = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows - "_corrupt" == direct)
  }

  test("parquet sink roundtrip aggregates match a direct query") {
    val viaSink = queries.SourcesSinks.parquetRoundtrip(spark, sf).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("n_rows"))).toMap
    import org.apache.spark.sql.functions._
    val direct = graft.sources.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .groupBy("l_returnflag").count().collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("count"))).toMap
    assert(viaSink == direct)
  }

  test("v2 encoded sink: delta encodings for keys, dictionary for low-NDV, exact roundtrip") {
    import org.apache.spark.sql.functions._
    // run the query first (writes the files), check the aggregate matches
    val viaSink = queries.SourcesSinks.encodedSink(spark, sf).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("sum_okey"))).toMap
    val direct = graft.sources.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(sum("l_orderkey").as("s")).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("s"))).toMap
    assert(viaSink == direct)
    // then open a footer and assert the per-column encoding choices landed
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val dirPath = new java.io.File(queries.SourcesSinks.encodedSinkPath(spark, sf))
    val part = dirPath.listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try {
      val chunks = reader.getFooter.getBlocks.asScala.head.getColumns.asScala
      def encodings(col: String): Set[String] =
        chunks.find(_.getPath.toDotString == col).get
          .getEncodings.asScala.map(_.name()).toSet
      // dict disabled per-column => v2 delta bit-packing (the FLE analog)
      assert(encodings("l_orderkey").contains("DELTA_BINARY_PACKED"), encodings("l_orderkey"))
      assert(encodings("l_partkey").contains("DELTA_BINARY_PACKED"), encodings("l_partkey"))
      // low-NDV string keeps dictionary encoding
      assert(encodings("l_returnflag").exists(e => e.contains("DICTIONARY")), encodings("l_returnflag"))
    } finally reader.close()
  }

  test("int96 timestamps: the footer's physical type really is INT96") {
    import org.apache.spark.sql.functions._
    // the writer's outputTimestampType and int96RebaseModeInWrite must
    // never reach the caller's session (an earlier writer leaked the
    // rebase mode). Plant a sentinel and force the write branch.
    queries.SourcesSinks.deleteRecursively(
      new java.io.File(queries.SourcesSinks.int96Path(spark, sf)))
    spark.conf.set("spark.sql.parquet.int96RebaseModeInWrite", "LEGACY")
    try {
      queries.SourcesSinks.int96Timestamps(spark, sf).collect(): Unit
      assert(spark.conf.get("spark.sql.parquet.int96RebaseModeInWrite") == "LEGACY",
        "int96RebaseModeInWrite leaked out of the writer")
    } finally spark.conf.unset("spark.sql.parquet.int96RebaseModeInWrite")
    // the row pins CORRECTED internally regardless of the session
    // sentinel, so the value/footer assertions below are unaffected
    val got = queries.SourcesSinks.int96Timestamps(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)), min(expr("ts DIV 1000")), max(expr("ts DIV 1000")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == want)
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dirPath = new java.io.File(queries.SourcesSinks.int96Path(spark, sf))
    val part = dirPath.listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val t = schema.getType(schema.getFieldIndex("ts96"))
      assert(t.asPrimitiveType().getPrimitiveTypeName ==
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96,
        t.toString)
    } finally reader.close()
  }

  test("int96 legacy rebase: LEGACY read is exact, CORRECTED shows the 10-day calendar shift") {
    import org.apache.spark.sql.functions._
    val rows = queries.SourcesSinks.int96LegacyRebase(spark, sf).collect()
    assert(rows.nonEmpty)
    // the calendar shift is VISIBLE and is exactly the 1500s
    // Julian↔proleptic gap on every group boundary value
    rows.foreach { r =>
      assert(r.getAs[Long]("shift_days_min") == 10L, r.toString)
      assert(r.getAs[Long]("shift_days_max") == 10L, r.toString)
    }
    // LEGACY read is EXACT against the independently-computed
    // intended instants (proleptic µs, straight from the base table)
    val base1500 = java.time.LocalDateTime.of(1500, 6, 15, 0, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
    val want = graft.sources.Tables.events(spark, sf)
      .filter(col("event_id") % 97 === 0)
      .select(col("event_type"),
        (lit(base1500) + expr("(ts DIV 1000000000) % 86400") * 1000000L +
          col("event_id") % 1000000L).as("us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("us").as("mn"), max("us").as("mx"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("mn"), r.getAs[Long]("mx")))).toMap
    val got = rows.map(r => r.getString(0) ->
      ((r.getAs[Long]("n_events"), r.getAs[Long]("min_us"),
        r.getAs[Long]("max_us")))).toMap
    assert(got == want)
    // the fixture really is an EXTERNAL-engine file: INT96 physical
    // type AND no Spark writer metadata (a Spark-written LEGACY file
    // carries a marker that silently overrides int96RebaseModeInRead)
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val part = new java.io.File(queries.SourcesSinks.int96LegacyPath(spark, sf))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try {
      val fmd = reader.getFooter.getFileMetaData
      val t = fmd.getSchema.getType(fmd.getSchema.getFieldIndex("ts96"))
      assert(t.asPrimitiveType().getPrimitiveTypeName ==
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96,
        t.toString)
      val keys = fmd.getKeyValueMetaData.keySet()
      assert(!keys.stream().anyMatch(_.startsWith("org.apache.spark")),
        s"fixture carries Spark writer metadata: $keys")
    } finally reader.close()
  }

  test("int96 legacy rebase plans one fixture read per mode and no checkpoint") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = SparkEntry.queries("src_int96_legacy_rebase")(spark, sf)
      .queryExecution.optimizedPlan
    assert(plan.collect { case r: LogicalRDD => r }.isEmpty, plan.treeString)
    val fixture = new java.io.File(queries.SourcesSinks.int96LegacyPath(spark, sf)).getCanonicalPath
    // each scan of the fixture carries its own rebase mode as a read option
    val modes = plan.collect { case l: LogicalRelation => l.relation }.collect {
      case r: HadoopFsRelation
          if r.location.rootPaths.exists(p => new java.io.File(p.toUri.getPath).getCanonicalPath == fixture) =>
        r.options.collectFirst { case (k, v) if k.equalsIgnoreCase("int96RebaseMode") => v }
    }
    assert(modes.sortBy(_.toString) == Seq(Some("CORRECTED"), Some("LEGACY")), plan.treeString)
  }

  test("csv corrupt: FAILFAST aborts on the same dirty payload PERMISSIVE survives") {
    // run the row first (stages the dirty file, proves the permissive
    // aggregate); then the strict mode must refuse the payload
    assert(queries.SourcesSinks.csvCorrupt(spark, sf).collect().nonEmpty)
    val path = queries.SourcesSinks.tmp(spark, sf, "events_csv_dirty")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val e = intercept[Exception] {
      spark.read.schema(schema).option("mode", "FAILFAST")
        .option("sep", "|").csv(path).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.toString + " | " + msgs(t.getCause)
    assert(msgs(e).contains("MALFORMED_RECORD") || msgs(e).contains("FAILFAST"),
      msgs(e).take(300))
  }

  test("dict fallback: the overflowed chunks carry BOTH dictionary and plain pages") {
    import org.apache.spark.sql.functions._
    // the values are invisible to the fallback
    val got = queries.SourcesSinks.dictFallback(spark, sf).collect()(0)
    val want = graft.sources.Tables.lineitem(spark, sf)
      .agg(count(lit(1)), max("l_orderkey"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"),
        countDistinct("l_returnflag")).collect()(0)
    assert(got == want, s"$got vs $want")
    // the footer carries the mid-write fallback: the high-NDV chunks
    // started dict-encoded (a DICTIONARY encoding is present) AND
    // overflowed to PLAIN data pages in the same chunk; the low-NDV
    // flag column never fell back
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val dirPath = new java.io.File(queries.SourcesSinks.dictFallbackPath(spark, sf))
    val part = dirPath.listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try {
      val chunks = reader.getFooter.getBlocks.asScala.head.getColumns.asScala
      def encodings(col: String): Set[String] =
        chunks.find(_.getPath.toDotString == col).get
          .getEncodings.asScala.map(_.name()).toSet
      // the growing-NDV key: dict pages flushed, then the mid-write
      // overflow switched the rest of the chunk to plain
      assert(encodings("l_orderkey").exists(_.contains("DICTIONARY")) &&
        encodings("l_orderkey").contains("PLAIN"),
        s"l_orderkey should carry BOTH encodings: ${encodings("l_orderkey")}")
      // the near-unique double: first-page compression check fails,
      // re-encoded in place — no dictionary trace
      assert(encodings("l_extendedprice").contains("PLAIN") &&
        !encodings("l_extendedprice").exists(_.contains("DICTIONARY")),
        s"l_extendedprice should be plain-only: ${encodings("l_extendedprice")}")
      assert(encodings("l_returnflag").exists(_.contains("DICTIONARY")) &&
        !encodings("l_returnflag").contains("PLAIN"),
        s"l_returnflag should stay dict-only: ${encodings("l_returnflag")}")
    } finally reader.close()
  }

  test("encoding policy: footers carry the chosen encodings, policy write beats single-encoding controls") {
    import org.apache.spark.sql.functions._
    // run the query (computes decisions + writes the policy layout)
    val decisions = queries.SourcesSinks.encodingPolicy(spark, sf).collect()
      .map(r => r.getAs[String]("column_name") -> r.getAs[String]("encoding")).toMap
    assert(decisions.keySet == queries.SourcesSinks.EncodingPolicyCols.toSet)
    // low-NDV columns choose dict at every SF; the high-NDV double
    // never does (extendedprice NDV ≈ row count)
    assert(decisions("l_returnflag") == "dict" && decisions("l_linestatus") == "dict")
    assert(decisions("l_extendedprice") == "plain", decisions.toString)
    // footer: every column's chunk encodings match its decision
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val dirPath = new java.io.File(queries.SourcesSinks.encodingPolicyPath(spark, sf))
    val part = dirPath.listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try {
      val chunks = reader.getFooter.getBlocks.asScala.head.getColumns.asScala
      def encodings(col: String): Set[String] =
        chunks.find(_.getPath.toDotString == col).get
          .getEncodings.asScala.map(_.name()).toSet
      for ((c, enc) <- decisions) enc match {
        case "dict" =>
          assert(encodings(c).exists(_.contains("DICTIONARY")), s"$c: ${encodings(c)}")
        case "delta_int" =>
          assert(encodings(c).contains("DELTA_BINARY_PACKED") &&
            !encodings(c).exists(_.contains("DICTIONARY")), s"$c: ${encodings(c)}")
        case "plain" =>
          assert(encodings(c).contains("PLAIN") &&
            !encodings(c).exists(_.contains("DICTIONARY")), s"$c: ${encodings(c)}")
      }
    } finally reader.close()
    // ...and the per-column choice beats every SINGLE-encoding write
    // on total bytes (uncompressed, so the delta is pure encoding):
    // all-plain (v1, dict off), all-delta (v2, dict off), and
    // all-dict-attempt (v2, dict on — parquet's own mid-write
    // fallback handles the overflow, the reference writer's policy)
    def bytes(dir: java.io.File): Long =
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(queries.SourcesSinks.EncodingPolicyCols.map(col): _*)
    def control(tag: String, version: String, dict: Boolean): Long = {
      val p = queries.SourcesSinks.tmp(spark, sf, tag)
      li.write.mode("overwrite")
        .option("parquet.writer.version", version)
        .option("compression", "uncompressed")
        .option("parquet.enable.dictionary", dict.toString)
        .parquet(p)
      bytes(new java.io.File(p))
    }
    val policyBytes = bytes(dirPath)
    val plainB = control("enc_allplain", "v1", dict = false)
    val deltaB = control("enc_alldelta", "v2", dict = false)
    val dictB = control("enc_alldict", "v2", dict = true)
    info(s"bytes: policy=$policyBytes plain=$plainB delta=$deltaB dictAttempt=$dictB")
    assert(policyBytes < plainB, s"policy $policyBytes !< all-plain $plainB")
    assert(policyBytes < deltaB, s"policy $policyBytes !< all-delta $deltaB")
    assert(policyBytes <= dictB, s"policy $policyBytes !<= all-dict $dictB")
    // the layout also roundtrips exactly
    val got = spark.read.parquet(dirPath.getAbsolutePath)
      .agg(count(lit(1)), sum("l_orderkey"), sum(col("l_quantity").cast("decimal(18,2)")))
      .collect()(0)
    val want = li
      .agg(count(lit(1)), sum("l_orderkey"), sum(col("l_quantity").cast("decimal(18,2)")))
      .collect()(0)
    assert(got == want)
  }

  test("avro roundtrip: real container files, aggregates exact through the hop") {
    import org.apache.spark.sql.functions._
    val got = queries.SourcesSinks.avroRoundtrip(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val want = graft.sources.Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), max("o_orderkey").as("m"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("s"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == want)
    // the written files are REAL Avro object containers: 'Obj\x01'
    val dir = new java.io.File(queries.SourcesSinks.tmp(spark, sf, "orders_avro"))
    val parts = dir.listFiles().filter(_.getName.endsWith(".avro"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      val head = java.nio.file.Files.readAllBytes(f.toPath).take(4)
      assert(head.sameElements(Array('O'.toByte, 'b'.toByte, 'j'.toByte, 1.toByte)),
        s"${f.getName} lacks the Avro container magic")
    }
  }

  test("json-lines roundtrip preserves per-type aggregates exactly") {
    import org.apache.spark.sql.functions._
    val viaJson = queries.SourcesSinks.jsonLines(spark, sf).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    val direct = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("double").as("s"),
        min(expr("ts div 1000000000")).as("f"), max(expr("ts div 1000000000")).as("l"))
      .collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(viaJson == direct)
  }

  test("bucketed join: no exchange or sort on the join inputs, result matches plain join") {
    import org.apache.spark.sql.functions._
    val df = queries.SourcesSinks.bucketedJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    // bucketed scans: the only exchanges are the post-join agg and the
    // final sort; an un-bucketed SMJ would add two more + two sorts
    val nExchanges = "Exchange".r.findAllIn(plan).length
    assert(nExchanges <= 2, s"expected <=2 exchanges, got $nExchanges:\n${plan.take(3000)}")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      "join inputs are not bucketed scans")
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.sources.Tables.orders(spark, sf)
      .join(graft.sources.Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
  }

  /** rows materialized by every parquet/orc file scan in the executed
    * plan — AFTER row-group/page stats skipping, so it measures what
    * the layout let the reader avoid. */
  private def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def find(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: QueryStageExec => find(q.plan)
      case f: FileSourceScanExec => f.metrics("numOutputRows").value
      case other => other.children.map(find).sum
    }
    find(df.queryExecution.executedPlan)
  }

  test("orc roundtrip matches the parquet table and pushes its predicate") {
    import org.apache.spark.sql.functions._
    val viaOrc = queries.SourcesSinks.orcRoundtrip(spark, sf)
    val plan = viaOrc.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"), plan.take(2000))
    val got = viaOrc.collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    val want = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 1000.0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got == want)
  }

  test("sort-clustered layout skips row groups the unsorted control must read") {
    import org.apache.spark.sql.functions._
    val sorted = queries.SourcesSinks.sortedSink(spark, sf) // writes the clustered layout
    // control: identical rows and row-group size, no clustering
    val unsortedPath = queries.SourcesSinks.tmp(spark, sf, "lineitem_unsorted")
    graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("l_shipdate"),
        col("l_quantity"), col("l_extendedprice"))
      .repartition(4)
      .write.mode("overwrite")
      .option("parquet.block.size", (256 * 1024).toString).parquet(unsortedPath)
    val control = queries.SourcesSinks.sortedRangeRead(spark, unsortedPath)
    // both layouts return the identical aggregate...
    val a = sorted.collect()(0); val b = control.collect()(0)
    assert(a.getLong(0) == b.getLong(0) && a.getDouble(1) == b.getDouble(1))
    // ...but the clustered one materializes a fraction of the rows
    val sortedRows = scanRows(queries.SourcesSinks.sortedRangeRead(spark,
      queries.SourcesSinks.tmp(spark, sf, "lineitem_sorted")))
    val unsortedRows = scanRows(control)
    assert(sortedRows * 3 <= unsortedRows,
      s"layout skipped nothing: sorted=$sortedRows unsorted=$unsortedRows")
  }

  test("z-order layout prunes a 2-D box the single-column sort cannot") {
    val z = queries.SourcesSinks.zorderSink(spark, sf) // writes the Z-clustered layout
    val controlPath = queries.SourcesSinks.zorderWrite(spark, sf,
      "lineitem_xsorted", zorder = false)
    val control = queries.SourcesSinks.zorderBoxRead(spark, controlPath)
    // identical aggregates from both layouts...
    val a = z.collect()(0); val b = control.collect()(0)
    assert(a.getLong(0) == b.getLong(0) && a.getDouble(1) == b.getDouble(1) &&
      a.getDouble(2) == b.getDouble(2))
    // ...but the Z-layout materializes a fraction of what x-sort does:
    // the control skips only on x (~1/4 of rows), the Morton layout
    // on both axes (~1/16 box)
    val zRows = scanRows(queries.SourcesSinks.zorderBoxRead(spark,
      queries.SourcesSinks.tmp(spark, sf, "lineitem_zorder")))
    val xRows = scanRows(control)
    assert(zRows * 2 <= xRows,
      s"z-order skipped nothing beyond x-sort: z=$zRows xsorted=$xRows")
  }

  test("merge upsert: deletes gone, updates applied, inserts added, rest untouched") {
    import org.apache.spark.sql.functions.col
    queries.SourcesSinks.mergeUpsert(spark, sf).collect() // runs the merge + rewrite
    val merged = spark.read.parquet(
      queries.SourcesSinks.tmp(spark, sf, "customer_merged"))
    val snap = graft.sources.Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val snapRows = snap.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    val got = merged.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    snapRows.foreach { case (k, (seg, bal)) =>
      if (k % 13 == 0) assert(!got.contains(k), s"deleted key $k survived")
      else if (k % 10 == 0) assert(got(k) == (("MERGED", bal + 100.0)), s"update lost on $k")
      else assert(got(k) == ((seg, bal)), s"untouched row $k changed")
    }
    val wantInserts = snapRows.keys.filter(_ % 37 == 0).map(_ + 10000000L).toSet
    wantInserts.foreach(k => assert(got.contains(k), s"insert $k missing"))
    assert(got.size == snapRows.size - snapRows.keys.count(_ % 13 == 0) + wantInserts.size)
    // delete-wins precedence: a key hit by both rules must be gone
    val both = snapRows.keys.filter(k => k % 13 == 0 && k % 10 == 0)
    both.foreach(k => assert(!got.contains(k)))
  }

  test("merge upsert reads its rewrite back under the written schema, with no schema job") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    queries.SourcesSinks.mergeUpsert(spark, sf).collect()
    val (df, rec) = operators.QueryProfile.record(spark)(
      queries.SourcesSinks.mergeUpsert(spark, sf))(identity)
    val inference = rec.jobs.filter(_.name.startsWith("parquet at SourcesSinks"))
    assert(inference.isEmpty, inference.map(_.name).mkString(", "))
    val pinned = df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.relation.schema
    }
    val inferred = spark.read.parquet(queries.SourcesSinks.tmp(spark, sf, "customer_merged")).schema
    assert(pinned.contains(inferred), s"$pinned vs $inferred")
  }

  test("morton16 interleave round-trips hand-computed bit patterns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // (x, y, z): z bits are x at even positions, y at odd
    val cases = Seq(
      (0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (1L, 1L, 3L),
      (255L, 0L, 0x5555L), (0L, 255L, 0xAAAAL), (255L, 255L, 0xFFFFL),
      (64L, 64L, 0x3000L), (127L, 127L, 0x3FFFL))
    val got = cases.toDF("x", "y", "want")
      .withColumn("z", queries.SourcesSinks.morton16(col("x"), col("y")))
      .collect()
    got.foreach(r => assert(r.getAs[Long]("z") == r.getAs[Long]("want"),
      s"x=${r.getAs[Long]("x")} y=${r.getAs[Long]("y")}"))
  }

  test("bloom filter point lookup skips row groups that min/max stats cannot") {
    import org.apache.spark.sql.functions._
    val bloomPath = queries.SourcesSinks.bloomWrite(spark, sf, "lineitem_bloom", bloom = true)
    val controlPath = queries.SourcesSinks.bloomWrite(spark, sf, "lineitem_nobloom", bloom = false)
    // the footers really differ only in the bloom filter's presence
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    def bloomOffsets(dir: String): Seq[Long] = {
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
      try reader.getFooter.getBlocks.asScala.toSeq
        .map(_.getColumns.asScala.find(_.getPath.toDotString == "l_lookup_key").get
          .getBloomFilterOffset)
      finally reader.close()
    }
    assert(bloomOffsets(bloomPath).forall(_ >= 0), "bloom filter missing from footer")
    assert(bloomOffsets(controlPath).forall(_ < 0), "control unexpectedly carries a bloom filter")
    // identical answers either way...
    val a = queries.SourcesSinks.bloomPointRead(spark, bloomPath).collect()(0)
    val b = queries.SourcesSinks.bloomPointRead(spark, controlPath).collect()(0)
    assert(a == b, s"$a != $b")
    assert(a.getLong(0) > 0, "point lookup matched nothing — the measurement is vacuous")
    // ...but the bloom-filtered read materializes a fraction of the
    // rows: min/max cannot skip (the surrogate key is unsorted and
    // spans ~the full domain in every group) and the dictionary is
    // disabled, so every skipped group is the bloom's doing
    val bloomRows = scanRows(queries.SourcesSinks.bloomPointRead(spark, bloomPath))
    val controlRows = scanRows(queries.SourcesSinks.bloomPointRead(spark, controlPath))
    assert(bloomRows * 3 <= controlRows,
      s"bloom skipped nothing: bloom=$bloomRows control=$controlRows")
  }

  test("record-level filter: the scan emits only matching rows on a coarse-page layout") {
    val path = queries.SourcesSinks.recordFilterLayout(spark, sf)
    def read(recordFilter: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
      s.conf.set("spark.sql.parquet.recordLevelFilter.enabled", recordFilter.toString)
      queries.SourcesSinks.recordFilterRead(s, path)
    }
    // identical answers either way...
    val a = read(true).collect()(0)
    val b = read(false).collect()(0)
    assert(a == b, s"$a != $b")
    assert(a.getLong(0) > 0, "record filter matched nothing — the measurement is vacuous")
    // ...but with record-level filtering the READER emits exactly the
    // matching records (the scan node's output IS the ~2% selectivity),
    // while the stats-blind control materializes every row: one page
    // per chunk leaves the column index nothing to skip, and the
    // unsorted predicate column spans every group's min/max
    val onRows = scanRows(read(true))
    val offRows = scanRows(read(false))
    assert(onRows == a.getLong(0),
      s"record-filtered scan emitted $onRows rows, expected the ${a.getLong(0)} matches")
    assert(onRows * 10 <= offRows,
      s"record filter saved nothing: on=$onRows off=$offRows")
  }

  test("encrypted sink: files carry the PARE magic, values roundtrip exactly") {
    import org.apache.spark.sql.functions._
    val got = queries.SourcesSinks.encryptedRoundtrip(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val want = graft.sources.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("q"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("p"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got == want)
    // the parquet modular-encryption spec replaces the plaintext PAR1
    // tail magic with PARE when the footer is encrypted — the
    // on-disk proof the sink really encrypted, not just roundtripped
    val dir = new java.io.File(
      queries.SourcesSinks.tmp(spark, sf, "lineitem_encrypted"))
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        raf.seek(f.length() - 4)
        val magic = new Array[Byte](4)
        raf.readFully(magic)
        assert(new String(magic, "US-ASCII") == "PARE",
          s"${f.getName} not footer-encrypted: ${new String(magic, "US-ASCII")}")
      } finally raf.close()
    }
  }

  test("dictionary filtering skips row groups whose dictionary lacks the probe value") {
    import org.apache.spark.sql.functions._
    val dictPath = queries.SourcesSinks.dictFilterWrite(spark, sf, "lineitem_dict", dict = true)
    val controlPath = queries.SourcesSinks.dictFilterWrite(spark, sf, "lineitem_nodict", dict = false)
    // identical answers either way...
    val a = queries.SourcesSinks.dictFilterRead(spark, dictPath).collect()(0)
    val b = queries.SourcesSinks.dictFilterRead(spark, controlPath).collect()(0)
    assert(a == b, s"$a != $b")
    assert(a.getLong(0) > 0, "probe matched nothing — the measurement is vacuous")
    // ...but the dict-encoded read materializes roughly half the
    // rows: tag strings interleave within each file so min/max spans
    // the probe in every group, bloom filters are off, and the only
    // structure that can rule out the even-parity file's groups is
    // the dictionary page (which holds only even tags there)
    val dictRows = scanRows(queries.SourcesSinks.dictFilterRead(spark, dictPath))
    val controlRows = scanRows(queries.SourcesSinks.dictFilterRead(spark, controlPath))
    assert(dictRows.toDouble <= 0.7 * controlRows,
      s"dictionary filter skipped nothing: dict=$dictRows control=$controlRows")
  }

  test("column-index page-level skipping beats row-group-only stats on the same file") {
    import org.apache.spark.sql.functions._
    // one big row group (its min/max spans the whole key range, so
    // row-group stats skip NOTHING) cut into many small pages — only
    // parquet's column index (per-page min/max, the analog of the
    // reference's per-page skip bitsets in hdfs-parquet-scanner.cc)
    // can skip inside it
    val path = queries.SourcesSinks.tmp(spark, sf, "lineitem_paged")
    graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("l_shipdate"),
        col("l_quantity"), col("l_extendedprice"))
      .repartition(1)
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite")
      .option("parquet.block.size", (128 * 1024 * 1024).toString)
      .option("parquet.page.row.count.limit", "512")
      .parquet(path)
    def readWith(columnIndex: Boolean) =
      spark.read
        .option("parquet.filter.columnindex.enabled", columnIndex.toString)
        .parquet(path)
        .filter(col("l_shipdate") >= lit(java.sql.Date.valueOf("1997-03-01")) &&
          col("l_shipdate") < lit(java.sql.Date.valueOf("1997-04-01")))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    // identical answers either way...
    val a = readWith(true).collect()(0); val b = readWith(false).collect()(0)
    assert(a.getLong(0) == b.getLong(0) && a.getDouble(1) == b.getDouble(1))
    assert(a.getLong(0) > 0, "filter matched nothing — the measurement is vacuous")
    // ...but the column-index read materializes a fraction of the rows
    val paged = scanRows(readWith(true))
    val rowGroupOnly = scanRows(readWith(false))
    assert(paged * 3 <= rowGroupOnly,
      s"column index skipped nothing: paged=$paged rowGroupOnly=$rowGroupOnly")
  }

  test("schema evolution: legacy rows surface with NULL status under mergeSchema") {
    import org.apache.spark.sql.functions._
    val rows = queries.SourcesSinks.schemaEvolution(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = graft.sources.Tables.orders(spark, sf)
    assert(rows("(legacy)") == o.filter(col("o_orderkey") % 2 === 0).count())
    assert(rows.filterNot(_._1 == "(legacy)").values.sum ==
      o.filter(col("o_orderkey") % 2 =!= 0).count())
  }

  test("nested-types roundtrip: flattened aggregates match the flat table exactly") {
    import org.apache.spark.sql.functions._
    val got = queries.SourcesSinks.nestedSink(spark, sf).collect()
      .map(r => r.getAs[Long]("l_orderkey") ->
        (r.getAs[Int]("n_lines"), r.getAs[Double]("sum_qty"), r.getAs[Double]("first_qty"))).toMap
    val want = graft.sources.Tables.lineitem(spark, sf)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).cast("int").as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("s"),
        min(struct(col("l_linenumber"), col("l_quantity"))).getField("l_quantity").as("f"))
      .collect()
      .map(r => r.getAs[Long]("l_orderkey") ->
        (r.getAs[Int]("n"), r.getAs[Double]("s"), r.getAs[Double]("f"))).toMap
    assert(got == want)
    // the written footer really carries nested groups (rep/def levels),
    // not flattened columns
    val d = new java.io.File(queries.SourcesSinks.tmp(spark, sf, "lineitem_nested"))
    val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema.toString
      assert(schema.contains("repeated"), schema)
      assert(schema.contains("key_value") || schema.contains("MAP"), schema)
    } finally reader.close()
  }

  test("dict cardinality stats: low-NDV flags encodable, high-NDV key is not at scale") {
    val rows = queries.SourcesSinks.dictCardinalityStats(spark, sf).collect()
      .map(r => r.getAs[String]("column_name") ->
        (r.getAs[Long]("ndv"), r.getAs[Boolean]("dict_encodable"))).toMap
    assert(rows("l_returnflag")._1 == 3 && rows("l_returnflag")._2)
    assert(rows("l_linestatus")._1 == 2 && rows("l_linestatus")._2)
    assert(rows("l_partkey")._1 > rows("l_quantity")._1)
  }

  test("dict cardinality stats plans per-column distinct branches, no Expand") {
    // N countDistinct in one agg would plan an Expand multiplying every
    // row ×N before the partial agg — the measured 100 TB anti-pattern
    val plan = queries.SourcesSinks.dictCardinalityStats(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan.take(3000))
    // each branch must be a pruned single-column scan
    assert("ReadSchema: struct<l_partkey".r.findFirstIn(plan).isDefined, plan.take(3000))
  }

  test("xml roundtrip writes real per-record markup, not renamed CSV") {
    val got = queries.SourcesSinks.xmlRoundtrip(spark, sf).collect()
    assert(got.length == 5)
    val dir = new java.io.File(queries.SourcesSinks.tmp(spark, sf, "events_xml"))
    val part = dir.listFiles().filter(_.getName.startsWith("part-")).head
    val text = new String(java.nio.file.Files.readAllBytes(part.toPath), "UTF-8")
    assert(text.contains("<row>") && text.contains("</row>"), text.take(200))
    assert(text.contains("<event_type>"), text.take(200))
  }

  test("binaryFile ingest: 64 executor-landed blobs, every byte accounted for") {
    val rows = queries.SourcesSinks.binaryFiles(spark, sf).collect()
    assert(rows.length == 64)
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == (0L until 64L))
    rows.foreach(r => assert(r.getAs[Long]("n_bytes") > 0))
    val blobs = new java.io.File(queries.SourcesSinks.tmp(spark, sf, "doc_blobs"))
      .listFiles().count(_.getName.endsWith(".txt"))
    assert(blobs == 64)
  }

  test("dynamic partition overwrite touches only the repaired partition's files") {
    val path = queries.SourcesSinks.dynPartSetupAndCorrupt(spark, sf)
    def files(t: String): Set[(String, Long)] =
      new java.io.File(s"$path/event_type=$t").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.length)).toSet
    val static = Seq("click", "error", "signup", "view")
    val beforeStatic = static.map(t => t -> files(t)).toMap
    val beforePurchase = files("purchase")
    assert(spark.read.parquet(path).filter("event_id = -1").count() == 1,
      "setup must plant the corrupted row")
    queries.SourcesSinks.dynPartRepair(spark, sf, path)
    // untouched partitions: byte-identical physical files
    static.foreach(t => assert(files(t) == beforeStatic(t), s"partition $t was rewritten"))
    // the repaired partition WAS rewritten and the corruption is gone
    assert(files("purchase") != beforePurchase)
    assert(spark.read.parquet(path).filter("event_id = -1").count() == 0)
  }

  test("compaction rewrites the fragmented landing into the row-targeted file count") {
    val rows = queries.SourcesSinks.compactionSink(spark, sf).collect()
      .map(r => r.getAs[String]("phase") ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("n_rows"), r.getAs[Double]("sum_value")))).toMap
    val (beforeFiles, beforeRows, beforeSum) = rows("before")
    val (afterFiles, afterRows, afterSum) = rows("after")
    assert(beforeFiles == 64L)
    assert(afterFiles == (beforeRows + 24999) / 25000)
    assert(afterFiles < beforeFiles)
    // content parity: the rewrite loses and invents nothing
    assert(afterRows == beforeRows)
    assert(afterSum == beforeSum)
  }

  test("codec matrix: content is codec-invariant and every codec beats uncompressed") {
    val rows = queries.SourcesSinks.codecMatrix(spark, sf).collect()
    assert(rows.map(_.getAs[String]("codec")).sorted.toSeq ==
      Seq("gzip", "lz4", "snappy", "uncompressed", "zstd"))
    // identical exact aggregates through every decompressor
    val aggs = rows.map(r => (r.getAs[Long]("n_rows"), r.getAs[Double]("sum_qty"),
      r.getAs[Double]("sum_price"), r.getAs[Long]("min_key"), r.getAs[Long]("max_key"))).distinct
    assert(aggs.length == 1, aggs.mkString("; "))
    val bytes = Seq("uncompressed", "snappy", "lz4", "gzip", "zstd")
      .map(c => c -> queries.SourcesSinks.codecBytes(spark, sf, c)).toMap
    info(bytes.toSeq.sortBy(_._2).map { case (c, b) => s"$c=$b" }.mkString(", "))
    bytes.foreach { case (c, b) =>
      assert(b > 0L, c)
      if (c != "uncompressed")
        assert(b < bytes("uncompressed"), s"$c ${b} !< uncompressed ${bytes("uncompressed")}")
    }
  }

  test("stats-only aggregate: answered from footers (LocalTableScan), equals the data") {
    val df = queries.SourcesSinks.statsOnly(spark, sf)
    // the whole result must come from footer metadata — the plan may
    // not contain any parquet scan at all
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("FileScan"), plan)
    val r = df.collect()(0)
    val t = graft.sources.Tables.lineitem(spark, sf)
      .selectExpr("count(*)", "min(l_orderkey)", "max(l_orderkey)",
        "min(l_quantity)", "max(l_quantity)").collect()(0)
    assert(r.getAs[Long]("n_rows") == t.getLong(0))
    assert(r.getAs[Long]("min_okey") == t.getLong(1))
    assert(r.getAs[Long]("max_okey") == t.getLong(2))
    assert(r.getAs[Double]("min_qty") == t.getDouble(3))
    assert(r.getAs[Double]("max_qty") == t.getDouble(4))
  }

  test("cdc diff classifies exactly the planted inserts/deletes/updates") {
    val rows = queries.SourcesSinks.cdcDiff(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val k = r.getAs[Long]("o_orderkey")
      val op = r.getAs[String]("op")
      (k % 5) match {
        case 0 => assert(op == "insert" && r.isNullAt(r.fieldIndex("old_price")))
        case 1 => assert(op == "delete" && r.isNullAt(r.fieldIndex("new_price")))
        case 2 => assert(op == "update" &&
          r.getAs[Double]("new_price") == r.getAs[Double]("old_price") + 1.0)
        case other => fail(s"unchanged key $k (mod $other) leaked into the diff")
      }
    }
    // completeness: every planted change key appears
    val keys = graft.sources.Tables.orders(spark, sf)
      .selectExpr("o_orderkey").collect().map(_.getLong(0))
    val changed = keys.filter(k => k % 5 <= 2).toSet
    assert(rows.map(_.getAs[Long]("o_orderkey")).toSet == changed)
  }

  test("multi-char delimiter: '::' really on disk, content identity holds") {
    import org.apache.spark.sql.functions._
    val rows = queries.SourcesSinks.csvMultiDelim(spark, sf).collect()
    val exp = graft.sources.Tables.supplier(spark, sf)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), min("s_suppkey").as("mn"),
        max("s_suppkey").as("mx"),
        sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("s"))
      .collect()
      .map(r => r.getAs[Int]("s_nationkey") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("mn"), r.getAs[Long]("mx"),
          r.getAs[Double]("s")))).toMap
    assert(rows.length == exp.size)
    rows.foreach { r =>
      assert(exp(r.getAs[Int]("s_nationkey")) ==
        ((r.getAs[Long]("n_suppliers"), r.getAs[Long]("min_key"),
          r.getAs[Long]("max_key"), r.getAs[Double]("sum_acctbal"))))
    }
    // the file bytes must genuinely carry the multi-char separator
    val path = new java.io.File(
      queries.SourcesSinks.tmp(spark, sf, "supplier_mdelim"))
    val part = path.listFiles().find(_.getName.startsWith("part-")).get
    val firstLine = scala.io.Source.fromFile(part).getLines().next()
    assert(firstLine.split("::").length == 4, firstLine)
  }

  test("multiline json: one ARRAY document parses whole and enriches the fact agg") {
    val rows = queries.SourcesSinks.jsonMultiline(spark, sf).collect()
    val exp = graft.sources.Tables.customer(spark, sf)
      .groupBy("c_nationkey").count().collect()
      .map(r => r.getAs[Int]("c_nationkey").toLong -> r.getAs[Long]("count")).toMap
    assert(rows.length == exp.size)
    rows.foreach(r => assert(r.getAs[Long]("n_customers") ==
      exp(r.getAs[Long]("n_nationkey"))))
    // the file on disk is genuinely ONE multi-line array document
    val path = new java.io.File(
      queries.SourcesSinks.tmp(spark, sf, "nation_mljson"))
    val part = path.listFiles().find(_.getName.startsWith("part-")).get
    val lines = scala.io.Source.fromFile(part).getLines().toSeq
    assert(lines.head == "[" && lines.last == "]" && lines.length > 3)
  }
}
