package graft

import org.apache.spark.sql.types._

/** Corpus-shape canary (FIXTURES.md §A): loads all ten driver tables
  * from sf0.001 and asserts the engine-side schema contract in ONE
  * named place. The driver regenerates /root/testdata between rounds
  * and has already changed an on-disk encoding once (events.ts:
  * INT64 nanos → timestamp[us], round 5) — when that happens again,
  * this suite fails with the table and column spelled out instead of
  * 49 scattered AnalysisExceptions.
  *
  * `Tables.events` must normalize EITHER accepted ts encoding to
  * TimestampType; both paths are covered — the current corpus's shape
  * here, the ns-long shape against staged fixtures (a plain long column
  * and a real INT64 TIMESTAMP(NANOS) file). `Tables.load` caches each
  * file's schema per session, so drift written at a path the session
  * already read must still be named here.
  */
class CorpusCanarySpec extends SparkSpecBase {

  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  // TIMESTAMP vs TIMESTAMP_NTZ both work for the date columns (session
  // tz pinned UTC everywhere; DuckDB reads both as naive) — the corpus
  // has already shipped each. Fold them together so the canary fails
  // only on drift that would actually break queries.
  private def norm(dt: DataType): DataType = dt match {
    case TimestampNTZType => TimestampType
    case ArrayType(e, _)  => ArrayType(norm(e))
    case other            => other
  }

  /** The canary's verdict on `table` under `dir`: None when its loaded
    * schema matches the contract, else the drift spelled out by name. */
  private def drift(dir: String, table: String): Option[String] = {
    val got = Tables.load(spark, dir, table).schema.fields
      .map(f => f.name -> norm(f.dataType)).toSeq
    val want = expected(table).map { case (n, t) => n -> norm(t) }
    Option.when(got != want)(
      s"\nCORPUS RESHAPED: $table schema drifted from " +
        s"FIXTURES.md §A.\n  expected: $want\n  got:      $got")
  }

  for (table <- expected.keys.toSeq.sorted) {
    test(s"canary: $table matches the FIXTURES.md §A contract") {
      drift(sf, table).foreach(msg => fail(msg))
      assert(Tables.load(spark, sf, table).count() > 0)
    }
  }

  test("canary: drift at the same path is named even after the table was loaded") {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_drift")
    val target = dir.resolve("customer.parquet")
    Files.copy(Paths.get(s"$sf/customer.parquet"), target)
    assert(drift(dir.toString, "customer").isEmpty)
    // rewrite the file in place with c_acctbal as a string: the cached
    // schema of the earlier load must not hide the change
    val staged = dir.resolve("staged")
    Tables.load(spark, dir.toString, "customer")
      .withColumn("c_acctbal", col("c_acctbal").cast("string"))
      .coalesce(1).write.parquet(staged.toString)
    val part = Files.list(staged).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    val msg = drift(dir.toString, "customer")
    assert(msg.exists(m => m.contains("customer") && m.contains("(c_acctbal,StringType)")), msg)
  }

  test("canary: events normalizes to TimestampType through Tables.events") {
    val ev = Tables.events(spark, sf)
    val got = ev.schema.fields.map(f => f.name -> f.dataType).toSeq
    val want = Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType)
    assert(got == want,
      s"\nDRIVER CORPUS RESHAPED: events (post-loader) drifted." +
        s"\n  expected: $want\n  got:      $got")
    assert(ev.count() > 0)
    // The raw on-disk encoding must be one of the two accepted shapes
    // (third shapes throw in Tables.events with a pointed message).
    val raw = Tables.load(spark, sf, "events").schema("ts").dataType
    assert(raw == LongType || raw == TimestampNTZType || raw == TimestampType,
      s"events.ts raw parquet type $raw is a NEW encoding — extend Tables.events")
    // Sanity: values landed in the documented 2024-01 window, not 1970
    // (a silently-wrong unit conversion shifts epochs by 1000x).
    import org.apache.spark.sql.functions._
    val yr = ev.agg(min(year(col("ts"))), max(year(col("ts"))))
      .head(); assert(yr.getInt(0) >= 2000 && yr.getInt(1) <= 2100,
      s"events.ts decoded outside a plausible epoch: $yr — unit bug")
  }

  test("canary: legacy INT64-nanos events fixture still loads (both paths covered)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ns_events")
    // Stage a tiny events.parquet in the OLD encoding: physical INT64
    // nanos column named ts (read back as LongType under nanosAsLong —
    // a plain long column exercises the same LongType loader branch).
    val micros = Tables.events(spark, sf).limit(50)
      .withColumn("ts", unix_micros(col("ts")) * lit(1000L)) // ns long
    micros.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val back = Tables.events(spark, dir.toString)
    assert(back.schema("ts").dataType == TimestampType)
    val expectedTs = Tables.events(spark, sf).limit(50)
      .select("event_id", "ts").collect().map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val roundTrip = back.select("event_id", "ts").collect()
    assert(roundTrip.forall(r => expectedTs(r.getLong(0)) == r.getTimestamp(1)),
      "ns-long loader branch changed ts values")
  }

  test("canary: INT64 TIMESTAMP(NANOS) events set the legacy flag; the current corpus does not") {
    import java.nio.file.{Files, Paths}
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(flag)
    val rows = Tables.events(spark, sf).orderBy("event_id").limit(50).collect()
    try {
      spark.conf.unset(flag)
      // the current corpus (timestamp[us]) loads without the flag
      val copy = Files.createTempDirectory("graft_us_events")
      Files.copy(Paths.get(s"$sf/events.parquet"), copy.resolve("events.parquet"))
      assert(Tables.events(spark, copy.toString).count() == Tables.events(spark, sf).count())
      assert(spark.conf.get(flag) == "false", "timestamp[us] events must not set the flag")

      // the old encoding, written as real INT64 TIMESTAMP(NANOS) parquet
      val schema = MessageTypeParser.parseMessageType(
        """message events {
          |  optional int64 event_id;
          |  optional int64 ts (TIMESTAMP(NANOS,false));
          |  optional int64 user_id;
          |  optional binary event_type (STRING);
          |  optional double value;
          |  optional binary props (STRING);
          |}""".stripMargin)
      val dir = Files.createTempDirectory("graft_ns_events")
      val conf = spark.sparkContext.hadoopConfiguration
      val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/events.parquet"), conf)).withType(schema).withConf(conf).build()
      val groups = new SimpleGroupFactory(schema)
      try rows.foreach { r =>
        val ts = r.getTimestamp(1)
        val micros = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
        writer.write(groups.newGroup()
          .append("event_id", r.getLong(0))
          .append("ts", micros * 1000L + 999L) // sub-µs digits floor away
          .append("user_id", r.getLong(2))
          .append("event_type", r.getString(3))
          .append("value", r.getDouble(4))
          .append("props", r.getString(5)))
      } finally writer.close()

      val back = Tables.events(spark, dir.toString)
      assert(spark.conf.get(flag) == "true")
      assert(back.schema == Tables.events(spark, sf).schema)
      assert(back.orderBy("event_id").collect().toSeq == rows.toSeq,
        "INT64-nanos loader branch changed values")
    } finally saved match {
      case Some(v) => spark.conf.set(flag, v)
      case None => spark.conf.unset(flag)
    }
  }
}
