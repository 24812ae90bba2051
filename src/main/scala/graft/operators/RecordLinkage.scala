package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact

/** Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter 1969)
  * — the standard entity-resolution scoring model: candidate pairs get
  * a log-likelihood-ratio score Σ_f w_f, where an agreeing field
  * contributes ln(m_f / u_f) and a disagreeing one
  * ln((1 − m_f) / (1 − u_f)); m_f = P(agree | same entity) is supplied,
  * u_f = P(agree | different entities) is ESTIMATED FROM THE DATA as
  * the random-pair agreement probability Σ_v cnt_v² / n² (exact integer
  * numerator and denominator, one IEEE divide).
  *
  * Cross-engine determinism: every per-field weight is ln() of the same
  * fixed parenthesization on both engines and micros-snaps BEFORE the
  * per-pair sum, so scores are exact BIGINT micros.
  *
  * Scale shape: u-statistics are one hash-agg per field over the value
  * histogram (map-side combinable, never a pair blow-up) delivered to
  * the pair stream as 1-row broadcast cross joins; candidate pairs come
  * from equi-join blocking — at production scale compose with the
  * sorted-neighborhood ([[Neighborhood]]) or SymSpell blocking instead
  * of a raw block join when blocks are hot.
  */
object RecordLinkage {

  /** fields: (name, comparator value expression) — a pair agrees on a
    * field when the two expressions are equal and non-null. Returns
    * (id_a, id_b, score_micros) for blocked pairs scoring above
    * `thresholdMicros`.
    *
    * Default m = 0.875 (7/8): both m and 1 − m are EXACT binary
    * doubles, so the weight formulas render to identical constants in
    * any engine (0.9 would make `1 − m` differ between decimal and
    * binary arithmetic). */
  def fellegiSunter(records: DataFrame, idCol: String,
                    blockCols: Seq[String],
                    fields: Seq[(String, Column)],
                    m: Double = 0.875,
                    thresholdMicros: Long = 0L): DataFrame = {
    require(m > 0 && m < 1, s"m must be in (0,1), got $m")
    val base = records.select(
      (col(idCol) +: blockCols.map(col)) ++
        fields.map { case (n, e) => e.as(s"f_$n") }: _*)
      .transform(graft.util.Ckpt.store(_)) // u-stats + both join sides read it

    // u_f = Σ cnt² / n² — exact integers up to the single divide.
    val uFrames = fields.map { case (n, _) =>
      base.groupBy(s"f_$n").agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt") * col("cnt")).as("ss"), sum("cnt").as("n"))
        .select((col("ss").cast("double") /
          (col("n") * col("n")).cast("double")).as(s"u_$n"))
    }

    val a = base.select(col(idCol).as("id_a") +: blockCols.map(col) :+
      struct(fields.map { case (n, _) => col(s"f_$n") }: _*).as("fa"): _*)
    val b = base.select(col(idCol).as("id_b") +: blockCols.map(col) :+
      struct(fields.map { case (n, _) => col(s"f_$n") }: _*).as("fb"): _*)
    var pairs = a.join(b, blockCols).filter(col("id_a") < col("id_b"))
    uFrames.foreach { u => pairs = pairs.crossJoin(broadcast(u)) }

    val weight = fields.map { case (n, _) =>
      val agree = col("fa").getField(s"f_$n") === col("fb").getField(s"f_$n")
      Exact.micros(
        when(agree, log(lit(m) / col(s"u_$n")))
          .otherwise(log(lit(1.0 - m) / (lit(1.0) - col(s"u_$n")))))
    }.reduce(_ + _)

    pairs.select(col("id_a"), col("id_b"), weight.as("score_micros"))
      .filter(col("score_micros") > thresholdMicros)
  }
}
