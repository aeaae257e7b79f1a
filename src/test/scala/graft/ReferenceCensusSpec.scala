package graft

/** Census of the reference README's fenced SQL blocks: every block a
  * reference user can copy out of `/root/reference/README.md` must be
  * claimed by a covering query entry in [[SparkEntry]]. The mapping
  * is asserted two ways — the anchor text still identifies its block
  * (README drift fails loudly instead of silently orphaning a
  * statement), and the covering entry still exists in the registry.
  *
  * Coverage notes per block:
  *  - Q1/Q2 DataLens charts run BYTE-verbatim, placeholders included
  *    (q102/q103); their staged-DF forms are q28/q29.
  *  - The S3-export chapter (CREATE TABLE ... ENGINE=S3, day-sliced
  *    INSERT ... SETTINGS, count reconcile) is q98/q97/q51.
  *  - The YQ federated chapter (inline-schema hits scans, the SCD2
  *    dim CSV, the insert-select into a binding path) is
  *    q104/q34/q105.
  *  - The `select * from hits_<id>` smoke probe shape is q33.
  */
class ReferenceCensusSpec extends SparkSpec {

  // read on first use, so that each test cancels on its own where the
  // checkout is absent instead of the suite aborting at construction
  private lazy val readme = new String(java.nio.file.Files.readAllBytes(
    referenceFile(graft.queries.MetricaQueries.referenceReadme)),
    java.nio.charset.StandardCharsets.UTF_8)

  private lazy val sqlBlocks =
    """(?s)```sql\s*\n(.*?)```""".r.findAllMatchIn(readme)
      .map(_.group(1)).toVector

  // anchor (verbatim substring of exactly one block) -> covering entry
  private val census: Seq[(String, String)] = Seq(
    "WITH TOTALS" -> "q102_metrica_q1_placeholders",
    "lastSignUTMSource" -> "q103_metrica_q2_placeholders",
    "ENGINE = S3(" -> "q98_ch_ddl_workflow",
    "s3_create_new_file_on_insert" -> "q97_ch_insert_select_sql",
    "union all" -> "q51_hits_export_reconcile",
    "compression = gzip" -> "q104_yql_inline_scan",
    "metrica-hits-s3" -> "q104_yql_inline_scan",
    "hits_<id трансфера>" -> "q33_select_star",
    "insert into" -> "q105_yql_federated_insert")

  test("every reference README sql block is claimed by a query entry") {
    assert(sqlBlocks.size == 8,
      s"README sql-block census changed: ${sqlBlocks.size} blocks — " +
        "re-map the census before trusting coverage claims")
    val names = SparkEntry.queries.keySet
    census.foreach { case (anchor, entry) =>
      assert(sqlBlocks.exists(_.contains(anchor)),
        s"anchor '$anchor' no longer matches any README sql block")
      assert(names.contains(entry),
        s"covering entry '$entry' missing from SparkEntry.queries")
    }
    // every block is hit by at least one anchor — no orphans
    val orphans = sqlBlocks.zipWithIndex.filterNot { case (b, _) =>
      census.exists { case (anchor, _) => b.contains(anchor) }
    }
    assert(orphans.isEmpty,
      s"unclaimed README sql blocks: ${orphans.map(_._2).mkString(",")}")
  }

  test("the dim CSV block matches the shipped dimension file") {
    val dimCsv = referenceFile("csv/dim_browser_country.csv")
    // the one non-sql fenced block a user copies: the SCD2 dimension
    // rows (README.md csv). The shipped csv file is the authority the
    // q34 entry reads; both must keep describing the same dimension.
    val csv = """(?s)```csv\s*\n(.*?)```""".r.findFirstMatchIn(readme)
    assert(csv.isDefined, "README csv block disappeared")
    assert(csv.get.group(1).contains("BrowserCountry"))
    val shipped = new String(java.nio.file.Files.readAllBytes(dimCsv),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(shipped.contains("BrowserCountry") && shipped.contains("ru"))
  }
}
