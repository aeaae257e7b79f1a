package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.MetricaQueries
import graft.schemas.Metrica
import graft.sources.Warehouse

/** Schema-transcription invariants (SURVEY.md §7.4 #7) and physical
  * layout checks: partition pruning on the warehouse, predicate
  * pushdown below the events ns→µs conversion.
  */
class MetricaSpec extends SparkSpec {

  test("hits schema: 106 fields, 12 arrays, 89 nullable") {
    assert(Metrica.hits.fields.length == 106)
    assert(Metrica.hits.fields.count(_.dataType.isInstanceOf[ArrayType]) == 12)
    assert(Metrica.hits.fields.count(_.nullable) == 89)
  }

  test("visits schema: 224 fields, 164 arrays, 54 nullable") {
    assert(Metrica.visits.fields.length == 224)
    assert(Metrica.visits.fields.count(_.dataType.isInstanceOf[ArrayType]) == 164)
    assert(Metrica.visits.fields.count(_.nullable) == 54)
  }

  test("the ddl/visits.sql:227 two-columns-one-line pair survived") {
    assert(Metrica.visits.fieldNames.contains("WindowClientHeight"))
    assert(Metrica.visits.fieldNames.contains("WindowClientWidth"))
  }

  test("key columns carry the documented type mapping") {
    def t(s: StructType, n: String) = s(n).dataType
    assert(t(Metrica.visits, "Sign") == ByteType) // Int8
    assert(t(Metrica.visits, "VisitVersion") == LongType) // UInt32 widened
    assert(t(Metrica.visits, "CounterUserIDHash") == LongType) // UInt64 reinterpret
    assert(t(Metrica.hits, "EventDate") == DateType)
    assert(t(Metrica.hits, "ClientIP6") == BinaryType) // FixedString(16)
    assert(t(Metrica.hits, "BrowserCountry") == StringType) // FixedString(2)
    assert(t(Metrica.visits, "TrafficSource.Model") ==
      ArrayType(ShortType, containsNull = false)) // Array(UInt8)
  }

  test("conform fills missing columns with typed nulls in schema order") {
    import spark.implicits._
    val slim = Seq((1L, "2023-11-01")).toDF("CounterID", "StartDate")
      .select($"CounterID", $"StartDate".cast("date").as("StartDate"))
    val full = Metrica.conform(slim, Metrica.visits)
    assert(full.columns.toSeq == Metrica.visits.fieldNames.toSeq)
    val row = full.select($"Sign", $"`TrafficSource.Model`").head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("warehouse week partition prunes at planning time") {
    val v = MetricaQueries.fixture(spark)
    val pruned = v.filter(col(Warehouse.weekCol) === lit("2023-11-06").cast("date"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("week"), plan)
    // all three fixture weeks present unpruned, exactly one after filter
    assert(v.select(Warehouse.weekCol).distinct().count() == 3)
    assert(pruned.select(Warehouse.weekCol).distinct().count() == 1)
  }

  test("events date-range predicate reaches the parquet scan as a pushdown") {
    val df = Graft.events(spark, "/root/testdata/sf0.001",
      "2024-01-01", "2024-02-01")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      s"expected raw-nanos pushdown in:\n$plan")
  }

  test("warehouse files are sorted by the clustering key within partitions") {
    val v = MetricaQueries.fixture(spark)
    // per input file, the order key must be non-decreasing in row order
    val key = concat_ws("|",
      lpad(col("CounterID").cast("string"), 8, "0"),
      col("StartDate").cast("string"),
      lpad(col("CounterUserIDHash").cast("string"), 8, "0"),
      lpad(col("VisitID").cast("string"), 8, "0"))
    import spark.implicits._
    val violations = v
      .withColumn("f", input_file_name())
      .select($"f", key.as("k"))
      .as[(String, String)]
      .collect()
      .groupBy(_._1)
      .map { case (_, rows) => rows.map(_._2).toSeq }
      .count(ks => ks != ks.sorted)
    assert(violations == 0)
  }

  test("nested view zips Group.Field parallel arrays positionally") {
    val v = Metrica.nested(MetricaQueries.fixture(spark), "TrafficSource")
    import spark.implicits._
    val got = v
      .filter(size(col("`TrafficSource.Model`")) >= 2)
      .select(
        expr("TrafficSource[1].UTMSource").as("nested_utm"),
        element_at(col("`TrafficSource.UTMSource`"), 2).as("flat_utm"))
      .as[(String, String)].collect()
    assert(got.nonEmpty)
    got.foreach { case (n, f) => assert(n == f) }
  }

  test("date predicates alone prune week partitions (WeekBoundsRule)") {
    val v = MetricaQueries.fixture(spark)
    // filter ONLY on StartDate — no manual week predicate
    val q = v.filter(col("StartDate") >= "2023-11-06" &&
        col("StartDate") <= "2023-11-07")
      .groupBy(col("CounterID")).count()
    val plan = q.queryExecution.executedPlan.toString
    // the derived week bounds must reach the scan as PARTITION filters
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(pf.contains("week"), s"no week partition filter in: $pf")
    // and the result is unchanged by the derived predicates
    assert(q.collect().map(_.getLong(1)).sum ==
      v.filter(col("StartDate") >= "2023-11-06" &&
          col("StartDate") <= "2023-11-07").count())
    // equality form prunes to exactly one week
    val eq = v.filter(col("StartDate") === "2023-11-02")
    val eqPf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(eq.queryExecution.executedPlan.toString)
      .map(_.group(1)).getOrElse("")
    assert(eqPf.contains("week") && eqPf.contains("="),
      s"no week equality partition filter in: $eqPf")
  }

  test("wide-row CSV encode/decode is a lossless inverse on hits rows") {
    import spark.implicits._
    import graft.sources.CsvGzip
    val df = Metrica.conform(
      Seq(
        (1L, java.sql.Date.valueOf("2023-11-01"), 7L,
          Seq(1L, 2L), Seq("a,b", "c\"d"), Seq.empty[Long],
          Array[Byte](1, 2, 3)),
        // empty ARRAYS roundtrip (JSON "[]" is a non-empty cell); an
        // empty binary/string cell would read back null — the CSV
        // format's own empty-vs-null ambiguity, not the codec's
        (2L, java.sql.Date.valueOf("2023-11-02"), 8L,
          Seq.empty[Long], Seq.empty[String], Seq(9L),
          Array[Byte](4, 5)))
        .toDF("CounterID", "EventDate", "CounterUserIDHash",
          "GoalsReached", "ParsedParams.Key1", "ParsedParams.Quantity",
          "ClientIP6"),
      Metrica.hits)
    val dir = tempDir("widecsv")
    CsvGzip.exportCsv(CsvGzip.encodeComplex(df), dir, mode = "overwrite")
    val back = CsvGzip.decodeComplex(
      CsvGzip.read(spark, dir, CsvGzip.encodedSchema(Metrica.hits)),
      Metrica.hits)
    // equal up to nullability (a CSV read is always nullable)
    assert(back.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq)
    val cols = Seq("CounterID", "GoalsReached", "ParsedParams.Key1",
      "ParsedParams.Quantity").map(c => col(s"`$c`")) :+
      hex(col("ClientIP6")).as("ip6") // bytes compare by content, not ref
    val a = df.select(cols: _*).orderBy(col("CounterID"))
      .collect().map(_.toString).toSeq
    val b = back.select(cols: _*).orderBy(col("CounterID"))
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("q113: FINAL + ARRAY JOIN compose in one verbatim statement") {
    val dir = "/root/testdata/sf0.001"
    val out = MetricaQueries.q113GoalsFinalScaled.fn(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    // independent replay in plain Spark: after the collapse, clicks
    // survive only as their v2 (doubled value) row; goals unroll in
    // lockstep as a pure function of the id
    val live = Graft.table(spark, dir, "events").select(
      col("event_id").as("vid"),
      when(col("event_type") === "click", col("value") * 2)
        .otherwise(col("value")).as("dur"))
    val exp = live.filter(pmod(col("vid"), lit(4)) =!= 0)
      .select(col("vid"), col("dur"),
        explode(sequence(lit(1L), pmod(col("vid"), lit(4)))).as("g"))
      .groupBy((col("g") * 100).as("gprice"))
      .agg(count(lit(1)).as("goal_visits"),
        countDistinct(col("vid")).as("visits"),
        sum(col("g")).as("serial_sum"),
        sum(round(col("dur") * 100).cast("long")).as("dur_cents"))
      .orderBy(col("gprice"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    assert(out.nonEmpty && out == exp)
  }
}
