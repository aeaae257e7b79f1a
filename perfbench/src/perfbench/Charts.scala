package perfbench

import org.apache.spark.sql.Row

/** DataLens chart queries as ClickHouse-dialect text for `spark.sql`,
  * and the decoding of chart results for the correctness checks.
  */
object Charts {

  /** Q1 "Посещаемость": daily Sign-weighted visits WITH TOTALS, the WHERE
    * on the SELECT alias, HAVING, LIMIT offset, count.
    */
  def q1Sql(table: String, from: String, to: String): String =
    s"""SELECT StartDate AS `ym:s:date`, sum(Sign) AS `ym:s:visits`
       |FROM $table
       |WHERE `ym:s:date` >= toDate('$from') AND `ym:s:date` <= toDate('$to')
       |GROUP BY `ym:s:date`
       |WITH TOTALS
       |HAVING `ym:s:visits` >= 0.0
       |ORDER BY `ym:s:date` ASC
       |LIMIT 0, 10""".stripMargin

  /** Q1 rows as (date -> visits, TOTALS value); the TOTALS row is the one
    * whose date is NULL.
    */
  def q1Answer(rows: Array[Row]): (Map[String, Long], Option[Long]) = {
    val (totals, days) = rows.partition(_.isNullAt(0))
    (days.map(r => r.get(0).toString -> r.getAs[Number](1).longValue).toMap,
      totals.headOption.map(_.getAs[Number](1).longValue))
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** Q2 rows against the generator's answer, in order, doubles to 1e-6. */
  def q2Check(rows: Array[Row], want: Seq[(String, Long, Long, Double, Double,
      Double, Long)]): (Boolean, String) = {
    val got = rows.toSeq.map(r => (r.getString(0), r.getAs[Number](1).longValue,
      r.getAs[Number](2).longValue, r.getDouble(3), r.getDouble(4), r.getDouble(5),
      r.getAs[Number](6).longValue))
    val ok = got.size == want.size && got.zip(want).forall { case (g, w) =>
      g._1 == w._1 && g._2 == w._2 && g._3 == w._3 && close(g._4, w._4) &&
        close(g._5, w._5) && close(g._6, w._6) && g._7 == w._7
    }
    (ok, s"Q2 rows $got != expected $want")
  }
}
