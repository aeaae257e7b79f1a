package graft

import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.queries.MetricaQueries

/** Registration-time lint on every [[SparkEntry]] entry's OUTPUT schema.
  *
  * The driver's correctness comparator reads each entry's parquet into
  * pandas and sorts rows by every column; an ARRAY (or MAP/STRUCT) cell
  * arrives as an unhashable ndarray/dict and the whole entry dies with
  * `TypeError` before any verdict — q127/q129 sat red for a full round
  * this way (VERDICT r7 #1/#4), and nothing rejected the shape at build
  * time.
  *
  * ESCAPE HATCH (the q75 "members" pattern): serialize the collection
  * to ONE string on BOTH sides —
  *   Spark : `concat_ws(",", arr.cast("array<string>"))`
  *   DuckDB: `array_to_string(arr, ',')` / `string_agg(x, ',' ORDER BY …)`
  * — which keeps the values compared element-for-element while giving
  * the comparator a scalar cell.
  */
class SchemaLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Entries that read the reference README when built (their chart
    * text comes out of it verbatim).
    */
  private val readsReadme =
    Set("q102_metrica_q1_placeholders", "q103_metrica_q2_placeholders")

  private def complex(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  test("no registered entry exposes ARRAY/MAP/STRUCT output columns") {
    val bad = Seq.newBuilder[String]
    val broken = Seq.newBuilder[String]
    val readme = MetricaQueries.referenceReadme
    val (setAside, linted) = SparkEntry.all.partition(d =>
      readsReadme(d.name) && !java.nio.file.Files.isRegularFile(readme))
    if (setAside.nonEmpty)
      info(s"not linted, $readme is absent: " +
        setAside.map(_.name).mkString(", "))
    linted.foreach { d =>
      try {
        val offenders = d.fn(spark, dir).schema.fields
          .filter(f => complex(f.dataType))
          .map(f => s"${f.name}:${f.dataType.simpleString}")
        if (offenders.nonEmpty)
          bad += s"${d.name} [${offenders.mkString(", ")}]"
      } catch {
        case e: Throwable =>
          broken += s"${d.name}: ${String.valueOf(e.getMessage).take(120)}"
      }
    }
    val badL = bad.result()
    val brokenL = broken.result()
    assert(badL.isEmpty,
      s"\nentries with comparator-unhashable output columns (serialize " +
        s"with concat_ws / array_to_string — see q75 members):\n  " +
        badL.mkString("\n  "))
    assert(brokenL.isEmpty,
      s"\nentries whose DataFrame could not be built at sf0.001 (lint " +
        s"could not run):\n  " + brokenL.mkString("\n  "))
  }

  /** Epoch rounding parity (round-10, verdict ask #4): Spark's
    * `toUnixTimestamp`/`unix_timestamp` TRUNCATE sub-second micros;
    * DuckDB's bare `epoch(ts)` is a DOUBLE whose CAST to BIGINT
    * ROUNDS. Any oracle that casts an un-floored epoch() to an integer
    * flips by one whenever the timestamp's fraction is >= .5 s — the
    * q137 class, red for THREE rounds before the cell diff named it.
    * The pinned convention is TRUNCATE (matching Spark): every
    * `epoch(` in an oracle must be immediately wrapped by `floor(`.
    */
  test("every oracle epoch() call is floor()-wrapped (truncate parity)") {
    val bad = Seq.newBuilder[String]
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val lower = sql.toLowerCase
      var i = lower.indexOf("epoch(")
      while (i >= 0) {
        val prefix = lower.substring(0, i).replaceAll("\\s+", "")
        if (!prefix.endsWith("floor("))
          bad += s"$name @${i}: ...${sql.substring(math.max(0, i - 20),
            math.min(sql.length, i + 20)).replaceAll("\\s+", " ")}..."
        i = lower.indexOf("epoch(", i + 1)
      }
    }
    val badL = bad.result()
    assert(badL.isEmpty,
      "\noracles with un-floored epoch() (DuckDB rounds on CAST, Spark " +
        "truncates — wrap as floor(epoch(...))):\n  " +
        badL.mkString("\n  "))
  }

  /** Function-registry uniqueness (round-11, ADVICE high): the
    * [[plans.ChDialect.functions]] registry is a Seq registered
    * last-wins, so a duplicate name SILENTLY shadows the earlier
    * (usually newer, custom-kernel) entry — uniqHLL12/uniqCombined
    * resolved to Spark HLL++ for a whole round while the documented
    * MD5-48 register-replay kernel sat dead, and q251/q257 passed
    * coincidentally. Case-insensitive because SQL function resolution
    * is.
    */
  test("ChDialect.functions registers each name exactly once") {
    val names = plans.ChDialect.functions.map(_._1.toLowerCase)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty,
      s"\nduplicate ChDialect function registrations (last-wins Seq — " +
        s"the earlier entry is silently dead):\n  ${dups.mkString("\n  ")}")
  }
}
