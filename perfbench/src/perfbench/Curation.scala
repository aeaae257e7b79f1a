package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The training-data curation library: one pass materializes each of the
  * registered entries below on the seeded corpus with the `noop` sink, in
  * a seeded order. They run the near-duplicate, ANN and staged-pipeline
  * operators (`Dedup`, `Similarity`, `Graft.stage`). The untimed warm
  * passes write each entry's rows as parquet instead, and `run.py`
  * compares them with the entry's DuckDB oracle outside the timed region.
  * Two warm passes: the entries' code keeps warming through the first.
  */
final class Curation(spark: SparkSession, args: Main.Args, tr: Trace)
    extends Workload {

  /** Candidate generators of `Dedup`/`Similarity` and the staged chain:
    * MinHash LSH bands, the PQ/ADC shortlist, decontamination + IVF cells
    * over `Graft.stage`d frames, the sign-bit Hamming shortlist.
    */
  val entries: Vector[String] = Vector("q22_minhash_neardup",
    "q209_pq_adc_ann", "q280_ivf_curation_chain", "q290_binary_hamming_ann")

  val nDocs: Long = math.max(200L, math.round(5000 * args.scale))
  val nVecs: Long = math.max(200L, math.round(2000 * args.scale))
  private val root = s"${args.scratch}/curation"
  private var corpus = ""
  private val checkDir = s"$root/check"

  def setup(rep: Int): Unit = {
    val dir = Dirs.fresh(s"$root/corpus-$rep")
    CurationGen.write(spark, args.seed, nDocs, nVecs, dir)
    if (rep > 0) graft.FsUtil.rmTree(s"$root/corpus-${rep - 1}")
    corpus = dir
  }

  def passSize: Int = entries.size
  override def warmPasses: Int = 2
  def sourceRows: Long = nDocs + nVecs
  def inputs: Map[String, Any] = Map("documents" -> nDocs, "embeddings" -> nVecs,
    "entries" -> entries)

  private def entry(pass: Int, i: Int): String =
    scala.util.Random.javaRandomToRandom(new java.util.Random(args.seed * 104729 + pass))
      .shuffle(entries).apply(i)

  def op(pass: Int, i: Int, warm: Boolean): Op = {
    val name = entry(pass, i)
    Op(name, () => {
      val df = tr.span("queries", s"QueryDef.$name")(SparkEntry.queries(name)(spark, corpus))
      if (warm) tr.span("spark", "write.parquet")(
        df.write.mode("overwrite").parquet(s"$checkDir/$name"))
      else tr.span("spark", "write.noop")(
        df.write.format("noop").mode("overwrite").save())
      () => Nil
    })
  }

  def layerMetrics(traced: Seq[Trace.Span], passes: Int,
      counters: SparkCounters): Map[String, Double] = {
    val ops = traced.filter(_.parent == -1)
    Map("sources.scan_bytes_per_query" ->
      counters.sum(traced.map(_.id)).input.toDouble / math.max(1, ops.size)) ++
    entries.map { e =>
      val runs = ops.filter(_.name == e)
      s"queries.${e.takeWhile(_ != '_')}_s" ->
        (if (runs.isEmpty) 0.0 else runs.map(_.seconds).sum / runs.size)
    }.toMap
  }

  override def extra: Map[String, Any] = Map(
    "corpus" -> corpus, "check_dir" -> checkDir,
    "oracle" -> entries.flatMap(e => SparkEntry.oracleSql.get(e).map(e -> _)).toMap)
}
