package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Group-wise feature normalization and threshold filtering — the step
  * between raw quality signals ([[graft.functions.TextFunctions]]'s
  * length/punctuation/stopword/repetition scores) and a keep/drop
  * decision. Normalizing within a stratum (language, source) is what
  * makes one threshold meaningful across strata whose raw distributions
  * differ; both operators here are exact, SQL-reproducible, and avoid
  * per-group sorts.
  */
object Features {

  /** Per-group z-score: `(x - mean) / stddev_pop` within `groupCol`,
    * appended as `<col>_z` for each requested column; a zero-variance
    * group normalizes to 0.0 (not NaN/null), so downstream thresholds
    * need no special case. Values rounded to 4 decimals.
    *
    * Plan shape: one groupBy(group) aggregate (map-side partial sums)
    * and one key-hash join back — NO window sort. The moments frame is
    * one row per group; AQE broadcasts it below the threshold, so at
    * 100 TB the normalization pass is a broadcast join over the scan.
    */
  def zscore(df: DataFrame, groupCol: String,
             cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zscore needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(avg(col(c)).as(s"__mu_$c"), stddev_pop(col(c)).as(s"__sd_$c"))
    }
    // null-safe join: groupBy keeps a null-group row, and a plain
    // equi-join would silently DROP every null-group input row (null
    // never equals null) — a null stratum is its own group instead
    val moments = df.groupBy(col(groupCol).as("__g")).agg(aggs.head, aggs.tail: _*)
    val joined = df.join(moments, col(groupCol) <=> col("__g")).drop("__g")
    val outCols: Seq[Column] =
      df.columns.map(col).toSeq ++ cols.map { c =>
        when(col(s"__sd_$c") === 0.0, lit(0.0))
          .otherwise(round((col(c) - col(s"__mu_$c")) / col(s"__sd_$c"), 4))
          .as(s"${c}_z")
      }
    joined.select(outCols: _*)
  }

  /** Keep rows whose `valCol` is >= (or <= with `keepTop = false`) the
    * group's DISCRETE `q`-quantile: the smallest value of the group
    * whose cumulative count reaches `ceil(q * n)` (`percentile_disc`
    * convention). The threshold is an ACTUAL data value, so the filter
    * compares stored values against a stored value — engine-portable
    * BY CONSTRUCTION. (The first cut used interpolated `percentile`;
    * whenever the interpolation landed exactly on a data value — at
    * sf0.01 EVERY source's p75 did — rows sitting on the threshold
    * were one cross-engine ulp from flipping, the exact failure class
    * the length-bucketing gate hit in r11. `percentile_approx` swaps
    * in at 100 TB with identical plumbing —
    * [[CorpusStats.quantileCertificate]] is the sketch-vs-exact
    * certificate for that substitution.)
    *
    * Plan shape: a (group, value) count aggregate (map-side combine,
    * distinct-value cardinality), per-group cumulative windows over
    * that tiny frame, and one key-hash join back — the corpus itself
    * is never sorted. */
  def quantileFilter(df: DataFrame, groupCol: String, valCol: String,
                     q: Double, keepTop: Boolean = true): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1), got $q")
    // the shared per-group discrete-quantile construction (null values
    // excluded from the population — see discreteQuantileByGroup)
    val thr = Sampling.discreteQuantileByGroup(
        df.select(col(groupCol).as("__g"), col(valCol).as("__v")), q)
      .withColumnRenamed("__m", "__thr")
    // null-safe join for the same reason as zscore: a null-group row
    // must be filtered against its own group's threshold, not dropped.
    // Inner is fine HERE (unlike the append-shaped robustZscore): a
    // group with no threshold is all-null-valued, and a null value
    // fails every threshold comparison anyway.
    val joined = df.join(thr, col(groupCol) <=> col("__g")).drop("__g")
    val cond =
      if (keepTop) col(valCol) >= col("__thr")
      else col(valCol) <= col("__thr")
    joined.where(cond).select(df.columns.map(col).toSeq: _*)
  }

  /** Robust z-score: `(x − median) / MAD` within `groupCol`, appended
    * as `<col>_rz` (4 decimals) — the outlier-immune normalization for
    * heavy-tailed signals, where one mega-document drags a mean/stddev
    * z-score but cannot move a median. Both the median and the MAD
    * (median absolute deviation) are DISCRETE — actual data values via
    * the per-group cum-sum construction — so for integer signals the
    * entire computation before the single final division is
    * integer-exact and engine-portable (no moment accumulation order,
    * no interpolated boundary). A zero-MAD group (over half its values
    * at the median) normalizes to 0.0, the [[zscore]] convention.
    *
    * Plan shape: two rounds of (group, value) counting + tiny
    * cumulative windows and two null-safe key joins back — the corpus
    * itself is never sorted, and a null group is its own stratum. */
  def robustZscore(df: DataFrame, groupCol: String,
                   valCol: String): DataFrame = {
    // the shared per-group discrete-quantile construction; joins back
    // LEFT because this operator APPENDS a column — a group whose
    // values are entirely null has no median row, and an inner join
    // would silently drop all of its rows instead of yielding a null
    // z-score
    def discreteMedian(in: DataFrame, vCol: Column): DataFrame =
      Sampling.discreteQuantileByGroup(
        in.select(col(groupCol).as("__g"), vCol.as("__v")), 0.5)
    val med = discreteMedian(df, col(valCol).cast("long"))
    val withMed = df.join(med, col(groupCol) <=> col("__g"), "left")
      .drop("__g")
      .withColumn("__med", col("__m")).drop("__m")
    val mad = discreteMedian(withMed,
      abs(col(valCol).cast("long") - col("__med")))
      .withColumnRenamed("__m", "__mad")
    withMed.join(mad, col(groupCol) <=> col("__g"), "left").drop("__g")
      .withColumn(s"${valCol}_rz",
        when(col("__mad") === 0L, lit(0.0))
          .otherwise(round(
            (col(valCol).cast("long") - col("__med")).cast("double") /
              col("__mad").cast("double"), 4)))
      .drop("__med", "__mad")
  }

  /** Reliability bins for a bounded [0,1] score against a binary
    * label — the calibration audit a learned quality filter needs
    * before its threshold means anything (Guo et al., ICML '17): bin
    * `min(floor(score·k), k−1)`, per bin the count, mean score
    * ("confidence") and positive rate ("accuracy"), plus the bin's
    * |conf − acc| gap. The n-weighted mean of `gap` over the corpus is
    * the expected calibration error; emitting the bins keeps the
    * output a reliability diagram, not one opaque scalar.
    *
    * Engine discipline: scores round to 6 decimals BEFORE binning and
    * averaging (the q_quality convention) so bin membership is an
    * exact IEEE comparison everywhere; conf/acc round at 4 (the
    * corpusReport mean discipline); `gap` derives from the ROUNDED
    * pair so it is exact given them. Null scores/labels are excluded.
    *
    * Plan shape: one scan + one groupBy at bin cardinality with
    * map-side combine — 100 TB costs a single pass and a k-row
    * shuffle. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      k: Int = 10): DataFrame = {
    require(k >= 2 && k <= 10000, s"need 2 <= k <= 10000 bins, got $k")
    val sc0 = round(col(scoreCol).cast("double"), 6)
    // enforce the documented [0,1] domain AT EXECUTION, row-local and
    // codegen'd: unscaled inputs (logits, percentages) would otherwise
    // produce negative bins / silently collapse into bin k-1 and yield
    // a plausible-looking but meaningless reliability diagram
    val sc = when(sc0 < 0.0 || sc0 > 1.0,
      raise_error(concat(
        lit(s"calibrationBins: score outside [0,1] in column " +
          s"'$scoreCol': "), sc0.cast("string")))).otherwise(sc0)
    df.where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(least(floor(sc * k).cast("long"), lit(k - 1L)).as("bin"),
        sc.as("__s"), col(labelCol).cast("double").as("__l"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg(col("__s")), 4).as("conf"),
        round(avg(col("__l")), 4).as("acc"))
      .withColumn("gap", round(abs(col("conf") - col("acc")), 4))
  }

  /** Winsorization at discrete quantile bounds: clip `valCol` into
    * `[b_lo, b_hi]`, where the bounds are ACTUAL data values at
    * `qLow`/`qHigh` ([[Sampling.discreteBounds]] — integer-exact
    * cross-engine, no interpolated boundary to flip on; values cast to
    * long, the signal grain this operates on). Appends `<col>_w` — the
    * outlier-taming step before z-scoring a heavy-tailed signal, so a
    * handful of mega-documents stop dominating a stratum's moments.
    *
    * Scale shape: the bounds frame is ONE row (distinct-value
    * cum-sum); the clip is a row-local projection after a broadcast
    * crossJoin — no shuffle of the corpus. */
  def winsorize(df: DataFrame, valCol: String, qLow: Double,
                qHigh: Double): DataFrame = {
    require(qLow > 0.0 && qLow < qHigh && qHigh < 1.0,
      s"need 0 < qLow < qHigh < 1, got ($qLow, $qHigh)")
    val bounds = Sampling.discreteBounds(df, valCol, Seq(qLow, qHigh))
    // a null value stays null: Spark's greatest/least SKIP nulls, so
    // without the guard a null would silently clip to the low bound
    val v = col(valCol).cast("long")
    df.crossJoin(broadcast(bounds))
      .withColumn(s"${valCol}_w",
        when(v.isNull, lit(null).cast("long"))
          .otherwise(greatest(col("__b0"), least(col("__b1"), v))))
      .drop("__b0", "__b1")
  }
}
