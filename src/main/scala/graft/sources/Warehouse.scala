package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ch.toMonday

/** Week-partitioned Parquet warehouse — the engine's analogue of the
  * reference's MergeTree physical layout (ddl/hits.sql:112-120):
  *
  *  - `PARTITION BY toMonday(date)` → a `week` partition directory per
  *    Monday, so date-range queries prune whole weeks at planning time;
  *  - `ORDER BY (clustering key)` → `sortWithinPartitions`, so Parquet
  *    page/row-group min-max stats act as the sparse index;
  *  - `ReplicatedMergeTree` appends → `SaveMode.Append` (replication is
  *    the storage layer's job).
  *
  * A write is a MergeTree INSERT: each task sorts the rows it already
  * holds on (week, key) and writes one sorted file, a "part", per week
  * among them. No shuffle moves rows between tasks first, so a week
  * holds at most as many new files as the write had input partitions,
  * and files of one week may overlap in key range, as parts do before
  * a merge. A hot week is never serialised through one task: it is
  * written by every task that holds its rows. [[compact]] and
  * OPTIMIZE are the merges.
  *
  * '''Directory swaps.''' Every rewrite, drop or recovery of a table's
  * `week=<monday>` dirs (ALTER DELETE/UPDATE, OPTIMIZE, DROP
  * PARTITION, MATERIALIZE TTL DELETE) and of a whole dir (a
  * materialized view's state) goes through this object, under one
  * protocol. For a live dir `<parent>/<name>`:
  *
  *  - new content is written to the staging sibling
  *    `.<name>_<op>_<nanos>` (`op` one of [[stagingOps]]);
  *  - each replaced week (or the whole dir) is RETIRED first: renamed
  *    to `.<name>_retired_week=<monday>_<nanos>` (whole dir:
  *    `.<name>_retired_<nanos>`), its modification time set to now.
  *    Then the staged copy renames in, and only then does the retired
  *    copy delete. A week with no staged copy is dropped: retired and
  *    deleted. So no copy is deleted before its replacement is in
  *    place, and the dot prefix keeps every sibling out of partition
  *    discovery. A reader may see a week absent for the instant
  *    between the renames, and old and new weeks side by side while a
  *    swap runs, as during CH mutations.
  *  - [[recover]] is the sweep every swapping operation runs first,
  *    before it reads. A leftover older than [[recoveryGraceMs]] heals:
  *    a retired copy whose live dir is missing renames back (the crash
  *    hit between the two renames, so that week's operation rolls
  *    back), one whose live dir exists deletes, and a staging dir
  *    deletes (its content never swapped in). A younger leftover may
  *    belong to a swap in progress and stays, except that a dir which
  *    is missing while a retired copy of the whole of it exists makes
  *    [[recover]] throw: nothing proceeds over a state it cannot see.
  *  - [[deleteDir]] removes a dir together with its leftovers, so no
  *    later sweep restores old data into a truncated or dropped dir.
  */
object Warehouse {

  val weekCol = "week"

  /** Append `df` into `tableDir` partitioned by the Monday of
    * `dateCol`, clustered by `orderKey` within each partition.
    *
    * Each task sorts its own rows on (week, orderKey...) and writes one
    * file per week it holds: the MergeTree insert, one sorted part per
    * partition from the rows the INSERT already has. So a week gets at
    * most as many files as `df` has partitions. Neither a range nor a
    * hash shuffle runs first: a range shuffle costs a sampling job and
    * a full-width exchange of every row, more than the write itself,
    * and `repartition(week)` would send a hot week through ONE task.
    */
  def write(df: DataFrame, tableDir: String, dateCol: String,
      orderKey: Seq[String], mode: String = "append"): Unit =
    clustered(withWeek(df, dateCol), orderKey)
      .write.mode(mode)
      .partitionBy(weekCol)
      .parquet(tableDir)

  /** `df` with the `week` column, and the physical invariant
    * `week = toMonday(dateCol)` stamped into the date column's field
    * metadata (it survives the parquet schema roundtrip):
    * WeekBoundsRule reads it back to partition-prune week directories
    * from date predicates.
    */
  private def withWeek(df: DataFrame, dateCol: String): DataFrame =
    df.withColumn(dateCol, col(s"`$dateCol`").as(dateCol,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putBoolean(graft.plans.WeekBoundsRule.flag, true).build()))
      .withColumn(weekCol, toMonday(col(s"`$dateCol`")))

  /** Sort each partition of `df` by (week, orderKey...), in place. */
  private def clustered(df: DataFrame, orderKey: Seq[String]): DataFrame =
    df.sortWithinPartitions((weekCol +: orderKey).map(c => col(s"`$c`")): _*)

  /** Read the warehouse table back (partition column `week` included;
    * filters on it prune directories).
    */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir)

  /** Idempotent partition-level backfill (X184, round 11): overwrite
    * ONLY the week partitions present in `df`, leaving every other
    * partition's files physically untouched — Spark's DYNAMIC
    * partition-overwrite mode, scoped to this one write and restored
    * after. This is the lever that makes a daily pipeline RERUNNABLE
    * at 100 TB: a failed-and-retried (or accidentally duplicated) job
    * rewrites its own day's partitions to the same content instead of
    * appending duplicates — exactly-once BY IDEMPOTENCY, with no
    * transaction log to coordinate. Static overwrite (the default
    * mode) would instead TRUNCATE THE WHOLE TABLE to write one week —
    * the classic backfill footgun this wrapper exists to make
    * impossible. Same physical layout as [[write]]: sorted files inside
    * week directories, the WeekBounds pruning stamp on the date
    * column.
    */
  def backfill(df: DataFrame, tableDir: String, dateCol: String,
      orderKey: Seq[String]): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try write(df, tableDir, dateCol, orderKey, mode = "overwrite")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Periodic compaction (SURVEY §2.8 ST4): rewrite the versioned
    * append-only table so only the latest live version of each entity
    * remains — the engine's scheduled analogue of
    * VersionedCollapsingMergeTree's background merge. Week-scoped
    * (versions of an entity share their week by construction): the
    * `week` partition column joins the entity key, so every week
    * compacts independently — and because that scoping lives in the
    * grouping key rather than a driver loop over week filters, ALL
    * weeks run inside one job, parallel across the cluster, instead of
    * years×52 serial passes. State per task stays bounded by one
    * (week, entity) group — the property that keeps compaction
    * feasible at 100 TB. Writes to `outDir` (atomically replacing a
    * prior compaction is the caller's move/swap; compaction never
    * rewrites the live table in place).
    */
  def compact(spark: SparkSession, tableDir: String, outDir: String,
      dateCol: String, orderKey: Seq[String], idCols: Seq[String],
      versionCol: String, signCol: String,
      sourceFilter: DataFrame => DataFrame = identity): Unit = {
    import graft.operators.Relational.latestVersions
    write(latestVersions(sourceFilter(read(spark, tableDir)),
        weekCol +: idCols, versionCol, signCol)
        .drop(weekCol),
      outDir, dateCol, orderKey)
  }

  /** Hybrid-storage TTL (README.md:178-180: the reference moves aged
    * data to object storage via MergeTree `TTL ... TO DISK`): week
    * partitions whose Monday is before `cutoffMonday` MOVE to
    * `coldDir`. A move is one directory rename per partition — never a
    * data rewrite; at 100 TB a TTL that rewrites is a full-table job,
    * a partition move is a metadata operation. Goes through Hadoop
    * [[org.apache.hadoop.fs.FileSystem]] resolved from the session's
    * configuration, so the same call works on `file:`, HDFS, and
    * s3a (where the store maps rename to its server-side copy). Both
    * tiers must resolve to the SAME FileSystem — a cross-store tier
    * move is a data copy, not a rename, and belongs to a distcp-style
    * job, not a metadata pass. Returns the moved partition names.
    * [[readTiered]] unions the tiers back into one logical table.
    */
  def tierByTtl(spark: SparkSession, tableDir: String, coldDir: String,
      cutoffMonday: java.time.LocalDate): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val hotPath = new Path(tableDir)
    val fs = hotPath.getFileSystem(conf)
    val coldPath = fs.makeQualified(new Path(coldDir))
    require(coldPath.getFileSystem(conf).getUri == fs.getUri,
      s"hot ($tableDir) and cold ($coldDir) tiers must share a FileSystem")
    if (!fs.exists(hotPath)) return Nil
    fs.mkdirs(coldPath)
    weeksOf(spark, tableDir)
      .filter(w => java.time.LocalDate.parse(w).isBefore(cutoffMonday))
      .map { w =>
        val dest = weekDir(coldPath, w)
        require(fs.rename(weekDir(hotPath, w), dest),
          s"tier move failed: ${weekDir(hotPath, w)} -> $dest")
        dest.getName
      }
  }

  /** CH `ALTER TABLE t DELETE WHERE cond` — the mutation path (GDPR
    * erasure, bad-batch rollback). CH rewrites only the PARTS that
    * contain matching rows; the analogue here rewrites only the WEEK
    * PARTITIONS that do. Two passes: (1) a pushed-down scan finds the
    * affected week values (a handful of strings on the driver — never
    * the rows); (2) ONE job reads just those weeks (partition-pruned),
    * drops matching rows, and the rewritten weeks swap in per week
    * (the protocol in this object's doc). A 100 TB table with matches in 3
    * weeks costs 3 weeks of IO, not a full-table rewrite; untouched
    * partitions keep their files byte-identical. Readers see old or
    * new data per partition while the swap runs — the same
    * parts-progressing visibility CH mutations have. Returns the
    * rewritten week partition names.
    */
  def deleteWhere(spark: SparkSession, tableDir: String,
      cond: org.apache.spark.sql.Column,
      orderKey: Seq[String] = Nil): Seq[String] =
    // `!cond` alone would also drop rows where cond is NULL (3VL);
    // CH's ALTER DELETE removes only rows where the predicate is
    // true, so NULL-condition rows must survive the rewrite. Pass 1's
    // filter(cond) stays consistent with this: a week whose only
    // candidates are NULL-condition rows needs no rewrite at all.
    mutate(spark, tableDir, cond, orderKey,
      df => df.filter(!coalesce(cond, lit(false))))

  /** CH `ALTER TABLE t UPDATE col = expr WHERE cond`: same selective
    * partition rewrite, replacing each assigned column with
    * `IF(cond, expr, col)`. Assignments may not move rows across week
    * partitions (CH likewise forbids mutating partition/key columns)
    * — the week column itself is rejected, and assigning the
    * partition-defining date column is the caller's contract to avoid.
    */
  def updateWhere(spark: SparkSession, tableDir: String,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      orderKey: Seq[String] = Nil): Seq[String] = {
    require(!assignments.contains(weekCol),
      s"cannot UPDATE the partition column $weekCol")
    mutate(spark, tableDir, cond, orderKey, df =>
      assignments.foldLeft(df) { case (acc, (c, e)) =>
        acc.withColumn(c, org.apache.spark.sql.functions
          .when(cond, e).otherwise(col(s"`$c`")))
      })
  }

  /** How old a swap leftover must be before [[recover]] touches it.
    * The grace period keeps two CONCURRENT swaps of one dir from
    * interfering: without it, swap B's sweep would "restore" a week
    * that swap A has retired mid-swap, making A's rename-in fail and
    * stranding its rewrite. A genuinely crashed swap heals on the
    * first swapping operation that runs after the grace elapses.
    */
  val recoveryGraceMs: Long = 10 * 60 * 1000L

  /** The op tags of staging dirs (`.<name>_<op>_<nanos>`): ALTER
    * DELETE/UPDATE, OPTIMIZE, and a materialized view's next state.
    */
  private val stagingOps = Seq("mutation", "optimize", "next")

  /** `<tableDir>/week=<monday>`, the directory of one week. */
  def weekDir(tableDir: Path, week: String): Path =
    new Path(tableDir, s"$weekCol=$week")

  /** The Mondays of the table's week directories, sorted (Nil when the
    * table dir is absent).
    */
  def weeksOf(spark: SparkSession, tableDir: String): Seq[String] = {
    val table = new Path(tableDir)
    val fs = fsOf(spark, table)
    if (!fs.exists(table)) Nil
    else fs.listStatus(table).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$weekCol="))
      .map(_.getPath.getName.substring(weekCol.length + 1)).sorted
  }

  /** The recovery sweep over `dir`'s swap leftovers (the protocol in
    * this object's doc); every swapping operation runs it first.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val live = new Path(dir)
    val fs = fsOf(spark, live)
    val found = leftovers(fs, live)
    val cutoff = System.currentTimeMillis() - recoveryGraceMs
    found.filter(_._1.getModificationTime < cutoff).foreach {
      case (st, Some(target)) if !fs.exists(target) =>
        require(fs.rename(st.getPath, target),
          s"swap recovery failed: ${st.getPath} -> $target")
      case (st, _) => fs.delete(st.getPath, true)
    }
    if (!fs.exists(live))
      found.collectFirst {
        case (st, Some(`live`)) if fs.exists(st.getPath) => st.getPath
      }.foreach(copy => throw new IllegalStateException(
        s"$live is missing while its retired copy $copy exists: a swap " +
          s"of it is in progress or crashed less than " +
          s"${recoveryGraceMs / 60000} min ago, after which the next " +
          "swapping operation restores the copy"))
  }

  /** Replace `weeks` of the table, and every week `stage` writes, by
    * the weeks `stage` writes into the staging dir it is handed: a
    * listed week `stage` does not write is dropped. Runs no sweep; the
    * caller runs [[recover]] before it reads the table.
    */
  def replaceWeeks(spark: SparkSession, tableDir: String,
      weeks: Seq[String], op: String)(stage: String => Unit): Unit = {
    require(stagingOps.contains(op), s"unknown staging op: $op")
    val table = new Path(tableDir)
    val fs = fsOf(spark, table)
    val staged = sibling(table, op)
    stage(staged.toString)
    (weeks ++ weeksOf(spark, staged.toString)).distinct.foreach(w =>
      swapWeek(fs, table, w, Some(weekDir(staged, w))))
    fs.delete(staged, true)
  }

  /** Drop `weeks` of the table (retire, then delete); an absent week
    * is a no-op.
    */
  def dropWeeks(spark: SparkSession, tableDir: String,
      weeks: Seq[String]): Unit = {
    val table = new Path(tableDir)
    val fs = fsOf(spark, table)
    weeks.foreach(w => swapWeek(fs, table, w, None))
  }

  /** Replace the whole of `dir` by what `stage` writes into the
    * staging dir it is handed.
    */
  def replaceDir(spark: SparkSession, dir: String)(
      stage: String => Unit): Unit = {
    val live = new Path(dir)
    val fs = fsOf(spark, live)
    val staged = sibling(live, "next")
    stage(staged.toString)
    swap(fs, live, Some(staged), sibling(live, "retired"))
  }

  /** Delete `dir` and its swap leftovers through the session's
    * FileSystem, so a later sweep restores nothing into it.
    */
  def deleteDir(spark: SparkSession, dir: String): Unit = {
    val live = new Path(dir)
    val fs = fsOf(spark, live)
    fs.delete(live, true)
    leftovers(fs, live).foreach(l => fs.delete(l._1.getPath, true))
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def sibling(live: Path, tag: String): Path =
    new Path(live.getParent, s".${live.getName}_${tag}_${System.nanoTime()}")

  private def swapWeek(fs: FileSystem, table: Path, week: String,
      fresh: Option[Path]): Unit = {
    val live = weekDir(table, week)
    swap(fs, live, fresh, sibling(table, s"retired_${live.getName}"))
  }

  /** Retire `live` (when present), rename `fresh` (when present) in,
    * delete the retired copy. The retire time is stamped BEFORE the
    * rename, because a rename keeps a dir's modification time, and
    * the sweep's grace period is measured from it.
    */
  private def swap(fs: FileSystem, live: Path, fresh: Option[Path],
      retired: Path): Unit = {
    if (fs.exists(live)) {
      fs.setTimes(live, System.currentTimeMillis(), -1)
      require(fs.rename(live, retired), s"swap: retiring $live failed")
    }
    fresh.filter(fs.exists).foreach(f =>
      require(fs.rename(f, live), s"swap: renaming $f to $live failed"))
    fs.delete(retired, true)
  }

  /** `dir`'s swap leftovers among its siblings, each with the dir a
    * retired copy restores to (None: a staging dir).
    */
  private def leftovers(fs: FileSystem,
      dir: Path): Seq[(FileStatus, Option[Path])] = {
    val pre = java.util.regex.Pattern.quote(s".${dir.getName}_")
    val retiredWeek = s"${pre}retired_$weekCol=([^_]+)(?:_.*)?".r
    val retiredDir = s"${pre}retired(?:_-?\\d+)?".r
    val staging = s"$pre(?:${stagingOps.mkString("|")})(?:_-?\\d+)?".r
    if (!fs.exists(dir.getParent)) Nil
    else fs.listStatus(dir.getParent).toSeq.filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case retiredWeek(w) => Some(st -> Some(weekDir(dir, w)))
        case retiredDir() => Some(st -> Some(dir))
        case staging() => Some(st -> None)
        case _ => None
      })
  }

  private def mutate(spark: SparkSession, tableDir: String,
      cond: org.apache.spark.sql.Column, orderKey: Seq[String],
      transform: DataFrame => DataFrame): Seq[String] = {
    recover(spark, tableDir)
    // pass 1: affected weeks only — the predicate pushes to the scan
    // and only the partition column comes back
    val affected = read(spark, tableDir).filter(cond)
      .select(col(weekCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (affected.isEmpty) return Nil
    // pass 2: one job over just the affected weeks (directory-pruned),
    // swapped in per week; a week whose rows ALL matched a delete is
    // not written, so it disappears
    replaceWeeks(spark, tableDir, affected, "mutation") { staged =>
      val rewritten = transform(read(spark, tableDir)
        .filter(col(weekCol).isin(affected.map(w => w: Any): _*)))
      (if (orderKey.nonEmpty) clustered(rewritten, orderKey) else rewritten)
        .write.partitionBy(weekCol).parquet(staged)
    }
    affected
  }

  /** The tiered table as one frame: hot ∪ cold (cold may not exist
    * yet). Week-partition pruning still applies per tier — a query
    * bounded to recent weeks never touches the cold store's files.
    */
  def readTiered(spark: SparkSession, hotDir: String,
      coldDir: String): DataFrame = {
    val hot = read(spark, hotDir)
    val coldPath = new Path(coldDir)
    val fs = coldPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(coldPath) && fs.listStatus(coldPath).nonEmpty)
      hot.unionByName(read(spark, coldDir))
    else hot
  }

  /** Bucketed external table (X168, round 10) — the co-located-join
    * layout: both sides of a recurring big join written
    * `bucketBy(n, key)` + `sortBy(key)` read back with
    * HashPartitioning(key, n) as their output partitioning, so the
    * join plans with NO Exchange on either side (and no Sort, when
    * sortBy matches the join key). This is THE 100 TB lever for a
    * fact table joined on the same key every day: the shuffle is
    * paid once at write time, then amortized over every subsequent
    * join. Registered as an EXTERNAL table (explicit path) in the
    * session catalog — bucketing metadata lives in the catalog, the
    * parquet stays where the caller put it.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, buckets: Int,
      partitionCol: Option[String] = None): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val w = df.write.format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", path).mode("overwrite")
    // date-partitioned AND key-bucketed (round 11): the ClickHouse
    // MergeTree layout — PARTITION BY month + ORDER BY key — maps to
    // partitionBy(date)+bucketBy(key): scans prune on the date
    // directory AND still report HashPartitioning(key, n) (the file
    // source merges same-numbered bucket files across partition
    // dirs), so a FINAL collapse window or key join needs no Exchange
    partitionCol.fold(w)(w.partitionBy(_)).saveAsTable(table)
  }

  /** The [[write]] warehouse layout with the entity key BUCKETED
    * (round 11, the X168 lever on the Metrica visits path): week
    * directories prune on date predicates exactly as [[write]]'s
    * (same `toMonday` invariant stamp), and the key bucketing hands
    * every downstream FINAL collapse / key join
    * HashPartitioning(key, n) — the per-key shuffle the reference's
    * VersionedCollapsingMergeTree avoids by physical ORDER BY is paid
    * ONCE at ingest here, then never again.
    */
  def writeBucketedWeekly(df: DataFrame, table: String, tableDir: String,
      dateCol: String, bucketCol: String, buckets: Int): Unit = {
    writeBucketed(withWeek(df, dateCol), table, tableDir, bucketCol, buckets,
      partitionCol = Some(weekCol))
  }

  /** Z-order clustered layout (X175, round 11) — MULTI-dimensional
    * clustering for file skipping, the lever [[writeBucketed]]'s
    * single-key sort cannot provide: sorting by `colA` gives every
    * file the FULL `colB` range, so a predicate on `colB` (or a 2-D
    * box) prunes nothing. Here both columns are min/max-scaled to
    * `bits`-bit lanes, interleaved into one Morton z-value
    * ([[graft.functions.ch.mortonInterleave]]), and the data is
    * range-partitioned + sorted by it — each parquet file then covers
    * a contiguous z-range, i.e. a LOCALIZED rectangle-ish region of
    * (colA, colB) space, and the ordinary parquet min/max stats on
    * the ORIGINAL columns prune files for predicates on EITHER
    * dimension (Delta/Iceberg's Z-ORDER, as a plain parquet layout).
    *
    * Scale shape: one min/max aggregate pass (4 scalars) + one
    * range-shuffle write — the same pay-once discipline as bucketing.
    * `repartitionByRange(outFiles, z)` keeps file sizes balanced
    * whatever the (colA, colB) distribution, because ranks of z are
    * balanced by construction. The z column is dropped before the
    * write: the LAYOUT carries the clustering; readers see the
    * original schema.
    */
  def writeZOrdered(df: DataFrame, dir: String, colA: String,
      colB: String, bits: Int = 16, outFiles: Int = 32): Unit = {
    require(bits >= 1 && bits <= 16, "writeZOrdered: 1 <= bits <= 16")
    val a = col(s"`$colA`").cast("double")
    val b = col(s"`$colB`").cast("double")
    val r = df.agg(min(a), max(a), min(b), max(b)).head()
    val (aLo, aHi) = (r.getDouble(0), r.getDouble(1))
    val (bLo, bHi) = (r.getDouble(2), r.getDouble(3))
    val top = (1L << bits) - 1
    def lane(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(top), floor((c - lit(lo)) *
        lit(top.toDouble / (hi - lo))).cast("long"))
    val z = graft.functions.ch.mortonInterleave(
      lane(a, aLo, aHi), lane(b, bLo, bHi), bits)
    df.withColumn("__graft_z", z)
      .repartitionByRange(outFiles, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z")
      .write.mode("overwrite").parquet(dir)
  }

  /** Training-shard export with a verifiable manifest (X207, round
    * 13) — the last mile of a data pipeline: rows land in `nShards`
    * shard directories by the PORTABLE hash of their id (so ANY
    * engine — or a later re-run — re-derives which shard holds a
    * document without reading data), ordered within a shard by
    * (hash, id) (the deterministic "epoch shuffle": hash order is
    * pseudorandom with respect to every corpus attribute), and the
    * returned MANIFEST carries per shard: row count, token sum, and
    * a content checksum (sum of portable row fingerprints mod 2⁶¹−1)
    * any engine can recompute to audit a shard without trusting the
    * writer. One hash-partitioned shuffle total; shard files are
    * written shard-at-a-time via partitionBy, never collected.
    */
  def exportShards(df: DataFrame, idCol: String, tokenCol: String,
      outDir: String, nShards: Int): DataFrame = {
    require(nShards > 0, "exportShards: nShards must be positive")
    import org.apache.spark.sql.functions._
    val id = col(s"`$idCol`")
    val h = graft.operators.Mix.portableHash(id.cast("long"))
    val sharded = df
      .withColumn("__shard", pmod(h, lit(nShards.toLong)).cast("int"))
      .withColumn("__h", h)
      .repartition(col("__shard"))
      .sortWithinPartitions(col("__shard"), col("__h"), id)
    sharded.drop("__h")
      .write.mode("overwrite").partitionBy("__shard").parquet(outDir)
    sharded
      .groupBy(col("__shard").as("shard"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col(s"`$tokenCol`").cast("long")).cast("long").as("n_tokens"),
        // overflow-safe fingerprint: reduce both factors below 2^31
        // before the multiply (h < 2^32 times the Knuth constant would
        // overflow a long), reduce each row's fingerprint mod 1e9+7 so
        // the SUM stays exact far past 10^9 rows per shard
        sum(pmod(pmod(col("__h"), lit(1000000007L)) * lit(2654435761L) +
          pmod(id.cast("long"), lit(1000000007L)),
          lit(1000000007L))).cast("long").as("checksum"))
  }

}
