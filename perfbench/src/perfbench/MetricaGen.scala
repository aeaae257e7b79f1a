package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.schemas.Metrica

/** Seeded generator of Metrica-shaped source data for the benchmark.
  *
  * Every value is a pure function of (seed, row index), so the same seed
  * gives the same rows under any partitioning, and the expected answers
  * below are computed from the same definitions without running the
  * engine:
  *
  *  - visits: the 224-column `Metrica.visits` schema. Visit `i` has 1-3
  *    versions written as VersionedCollapsingMergeTree state/cancel
  *    pairs; one visit in eleven is deleted by a final cancel row. Start
  *    dates span [[visitDays]] days, three Monday-aligned weeks.
  *  - hits: the 106-column `Metrica.hits` schema over the three export
  *    days, with array columns, a raw IPv6 binary, and URL/Title strings
  *    that carry commas and double quotes (the CSV quoting stress).
  *
  * Size is one argument, the hit count. Visits are a third of the hits,
  * about three visit rows each, as in the reference's volume ratio.
  */
object MetricaGen {

  /** BASELINE.md's published figure: hits replicated over three days. */
  val referenceHits: Long = 3902732L
  val defaultHits: Long = referenceHits / 10

  val hitDay0: LocalDate = LocalDate.of(2023, 11, 1)
  val hitDays: Int = 3
  /** A Monday, so the visit dates cover exactly three warehouse weeks. */
  val visitDay0: LocalDate = LocalDate.of(2023, 10, 23)
  val visitDays: Int = 21
  val utms: Vector[String] = Vector("google", "yandex", "newsletter",
    "direct", "partner")

  def hitDay(d: Int): String = hitDay0.plusDays(d).toString
  def visitDay(d: Int): String = visitDay0.plusDays(d).toString

  /** splitmix64 finalizer over (seed, index, salt). */
  def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L +
      (salt + 1) * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def pick(seed: Long, i: Long, salt: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, i, salt), n.toLong).toInt

  // ---- visits -------------------------------------------------------

  /** The attributes every row of one visit shares. */
  final case class Visit(id: Long, counter: Long, day: Int, user: Long,
      versions: Int, deleted: Boolean, utm: String, purchase: Boolean)

  def visit(seed: Long, i: Long, nVisits: Long): Visit = Visit(
    id = 1L + i,
    counter = 1000L + pick(seed, i, 1, 7),
    day = pick(seed, i, 2, visitDays),
    user = 10000L + pick(seed, i, 3, math.max(1L, nVisits / 3).toInt),
    versions = 1 + pick(seed, i, 4, 3),
    deleted = pick(seed, i, 5, 11) == 0,
    // one visit in four has no model-2 traffic source: Q2's miss path
    utm = if (pick(seed, i, 6, 4) == 3) "" else utms(pick(seed, i, 7, 5)),
    purchase = pick(seed, i, 8, 5) == 0)

  def pageViews(seed: Long, i: Long, k: Int): Int = 1 + pick(seed, i, 10 + k, 6)
  def duration(seed: Long, i: Long, k: Int): Long = 10L * pick(seed, i, 20 + k, 90)
  def isBounce(seed: Long, i: Long, k: Int): Short =
    if (pick(seed, i, 30 + k, 5) == 0) 1 else 0

  type VisitRow = (Long, java.sql.Date, Long, Long, Byte, Long, Int, Long,
    Short, Seq[Short], Seq[String], Seq[String])

  val visitCols: Seq[String] = Seq("CounterID", "StartDate",
    "CounterUserIDHash", "VisitID", "Sign", "VisitVersion", "PageViews",
    "Duration", "IsBounce", "TrafficSource.Model",
    "TrafficSource.UTMSource", "EPurchase.ID")

  /** The state/cancel rows of visit `i`. A cancel row repeats the
    * measures of the version it cancels, as the collapsing engine
    * requires.
    */
  def visitRows(seed: Long, i: Long, nVisits: Long): Seq[VisitRow] = {
    val v = visit(seed, i, nVisits)
    val date = java.sql.Date.valueOf(visitDay0.plusDays(v.day))
    val (model, utm) =
      if (v.utm.isEmpty) (Seq[Short](1), Seq(""))
      else (Seq[Short](1, 2), Seq("", v.utm))
    val purchase = if (v.purchase) Seq(s"p${v.id}", "") else Seq.empty[String]
    def row(k: Int, sign: Byte): VisitRow = (v.counter, date, v.user, v.id,
      sign, k.toLong, pageViews(seed, i, k), duration(seed, i, k),
      isBounce(seed, i, k), model, utm, purchase)
    val states = (1 to v.versions).flatMap { k =>
      (if (k > 1) Seq(row(k - 1, -1)) else Nil) :+ row(k, 1)
    }
    if (v.deleted) states :+ row(v.versions, -1) else states
  }

  def visitRowCount(v: Visit): Int = 2 * v.versions - 1 + (if (v.deleted) 1 else 0)

  /** Source visit rows conformed to the full 224-column schema. */
  def visitsFrame(spark: SparkSession, seed: Long, nVisits: Long): DataFrame = {
    import spark.implicits._
    val rows = spark.range(nVisits).as[Long]
      .flatMap(i => visitRows(seed, i, nVisits))
    Metrica.conform(rows.toDF(visitCols: _*), Metrica.visits)
  }

  // ---- hits ---------------------------------------------------------

  type HitRow = (Long, java.sql.Date, Long, java.sql.Timestamp, Long,
    String, String, Seq[Long], Seq[String], Seq[Long], Array[Byte], Short)

  val hitCols: Seq[String] = Seq("CounterID", "EventDate",
    "CounterUserIDHash", "UTCEventTime", "WatchID", "URL", "Title",
    "GoalsReached", "ParsedParams.Key1", "ParsedParams.Quantity",
    "ClientIP6", "IsPageView")

  def hitDayOf(seed: Long, i: Long): Int = pick(seed, i, 40, hitDays)

  def hitRow(seed: Long, i: Long, nHits: Long): HitRow = {
    val day = hitDay0.plusDays(hitDayOf(seed, i))
    val page = pick(seed, i, 41, 40)
    (1000L + pick(seed, i, 42, 7),
      java.sql.Date.valueOf(day),
      10000L + pick(seed, i, 43, math.max(1L, nHits / 9).toInt),
      java.sql.Timestamp.from(day.atStartOfDay(java.time.ZoneOffset.UTC)
        .plusSeconds(pick(seed, i, 44, 86400).toLong).toInstant),
      1L + i,
      s"""https://example.com/p/$page?q=a,b&r="${pick(seed, i, 45, 9)}"""",
      s"Title $page, part ${pick(seed, i, 46, 7)}",
      (0 until pick(seed, i, 47, 4)).map(g => (page + g).toLong),
      (0 until pick(seed, i, 48, 3)).map(k => s"k${page % 11},v$k"),
      (0 until pick(seed, i, 48, 3)).map(q => (q + page % 5).toLong),
      Array.tabulate(16)(b => mix(seed, i, 50 + b).toByte),
      (if (pick(seed, i, 49, 4) == 0) 0 else 1).toShort)
  }

  /** Source hit rows conformed to the full 106-column schema. */
  def hitsFrame(spark: SparkSession, seed: Long, nHits: Long): DataFrame = {
    import spark.implicits._
    val rows = spark.range(nHits).as[Long].map(i => hitRow(seed, i, nHits))
    Metrica.conform(rows.toDF(hitCols: _*), Metrica.hits)
  }

  // ---- expected answers ----------------------------------------------

  /** Per-(day, utm) partial aggregates of the Sign-weighted raw rows;
    * utm "" collects the visits without a model-2 source.
    */
  final class Cell {
    var visits = 0L; var bounces = 0L; var pageViews = 0L
    var duration = 0L; var purchases = 0L
    /** Users of all visits (state and cancel rows alike), and of the
      * visits still live after the collapse.
      */
    val users = mutable.HashSet.empty[Long]
    val liveUsers = mutable.HashSet.empty[Long]
  }

  /** Answers the engine must reproduce, from the generator's definitions. */
  final class Expected(seed: Long, nHits: Long, nVisits: Long) {
    val hitsPerDay = new Array[Long](hitDays)
    var visitRows = 0L
    /** Live (latest, not deleted) visits per start day. */
    val livePerDay = new Array[Long](visitDays)
    val cells: Map[(Int, String), Cell] =
      (for (d <- 0 until visitDays; u <- "" +: utms) yield (d, u) -> new Cell)
        .toMap

    {
      var i = 0L
      while (i < nHits) { hitsPerDay(hitDayOf(seed, i)) += 1; i += 1 }
      i = 0L
      while (i < nVisits) {
        val v = visit(seed, i, nVisits)
        visitRows += visitRowCount(v)
        val c = cells((v.day, v.utm))
        c.users += v.user
        if (!v.deleted) {
          val k = v.versions
          livePerDay(v.day) += 1
          c.visits += 1
          c.liveUsers += v.user
          c.bounces += isBounce(seed, i, k)
          c.pageViews += pageViews(seed, i, k)
          c.duration += duration(seed, i, k)
          if (v.purchase) c.purchases += 1
        }
        i += 1
      }
    }

    def liveVisits: Long = livePerDay.sum
    def sourceRows: Long = nHits + visitRows

    /** Q1 rows over days [from, to]: (date -> visits) and the TOTALS value. */
    def q1(from: Int, to: Int): (Map[String, Long], Long) = {
      val days = (from to to).filter(livePerDay(_) != 0)
        .map(d => visitDay(d) -> livePerDay(d)).toMap
      (days, days.values.sum)
    }

    /** Q2 rows over days [from, to], in the query's output order:
      * (utm, visits, users, bounceRate, pageDepth, avgDuration, purchases),
      * over the raw rows or, with `compacted`, over the live state only.
      */
    def q2(from: Int, to: Int, compacted: Boolean): Seq[(String, Long, Long,
        Double, Double, Double, Long)] = {
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      utms.flatMap { u =>
        val cs = (from to to).map(d => cells((d, u)))
        val users = cs.flatMap(c => if (compacted) c.liveUsers else c.users)
          .toSet.size.toLong
        if (users == 0) None else {
          val visits = cs.map(_.visits).sum
          Some((u, visits, math.min(users, visits),
            r4(100.0 * cs.map(_.bounces).sum / visits),
            r4(cs.map(_.pageViews).sum.toDouble / visits),
            r4(cs.map(_.duration).sum.toDouble / visits),
            cs.map(_.purchases).sum))
        }
      }.sortBy(r => (-r._2, r._1)).take(50)
    }
  }
}
