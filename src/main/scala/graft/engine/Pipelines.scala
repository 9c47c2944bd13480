package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Dsl._
import graft.windows.{AggFunctions, CountWindows, PaneGate}

/** Pipeline compiler: DSL definition -> declarative DataFrame plan.
  *
  * NOT an interpreter port. The reference walks stages per event with a
  * mutable context (pipeline/instance.go:65-136); here every stage becomes
  * a row-preserving DataFrame transformation and Catalyst optimizes the
  * whole chain (projection collapse, filter pushdown, partial aggregation).
  *
  * Execution contract for `compileBatch`:
  *  - input DataFrame columns = pipeline metadata.input names, plus
  *    `__seq` (long, monotone per key: arrival order) and, for time
  *    windows, `__ts` (timestamp).
  *  - The action-level `groupBy` setting (action.go:156-165) names an
  *    input field whose value partitions all window state.
  *
  * Stage semantics:
  *  - Every stage computes a boolean `report` column; `proceedOnlyOnEmit`
  *    (default true) filters rows where report=false — the Spark analog of
  *    the reference's stall (instance.go:116-124): non-emitting events are
  *    consumed into state and produce nothing downstream. With
  *    proceedOnlyOnEmit=false rows flow on with report=false
  *    (activity.go:136).
  *  - Window emissions carry the scope columns of the event that triggered
  *    them (the reference resumes the LAST stalled context —
  *    state.go:233-241), which falls out naturally of the row-preserving
  *    window-function formulation.
  */
object Pipelines {

  /** Compile a pipeline over a batch DataFrame. With `instrument`, a
    * CollectMetrics observation (`graft_stage_<i>_<ref>`: emitted row
    * count) is attached after every stage — the per-stage telemetry the
    * reference broadcasts as StageStarted/Finished events
    * (pipeline/instance.go:171-173), surfaced through
    * Telemetry.attachBatch / the streaming progress events. Observations
    * ride the existing accumulator machinery: no extra pass, no codegen
    * break. */
  def compileBatch(p: PipelineDef, input: DataFrame,
                   env: Map[String, String] = Map.empty,
                   props: Map[String, String] = Map.empty,
                   instrument: Boolean = false): DataFrame =
    compile(p, input, env, props, streaming = false, instrument)

  /** Shared stage loop for both execution modes — the observe naming
    * and per-stage wiring must never drift between batch and stream. */
  private def compile(p: PipelineDef, input: DataFrame,
                      env: Map[String, String], props: Map[String, String],
                      streaming: Boolean, instrument: Boolean): DataFrame = {
    var df = prologue(p, input)
    p.stages.zipWithIndex.foreach { case (st, i) =>
      df = compileStage(p, st, df, env, props, streaming)
      if (instrument)
        df = df.observe(s"graft_stage_${i}_${st.ref}", count(lit(1)).as("rows"))
    }
    epilogue(p, df)
  }

  /** Compile over a streaming DataFrame and START it, honoring the
    * definition's `outputChannel`: the pipeline's output rows are
    * auto-published to the named channel every micro-batch — the
    * reference publishes an action's output on completion
    * (action.go:180-182) — and the running StreamingQuery is returned.
    * Pipelines without an outputChannel should be compiled with
    * [[compileStream]] and sunk by the caller. */
  def runStream(p: PipelineDef, input: DataFrame,
                env: Map[String, String] = Map.empty,
                props: Map[String, String] = Map.empty)
               (implicit spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ch = p.outputChannel.getOrElse(throw new IllegalArgumentException(
      s"pipeline '${p.id}' declares no outputChannel; use compileStream " +
        "and attach your own sink"))
    graft.streaming.Channels.publish(ch, compileStream(p, input, env, props))
  }

  /** Compile over a streaming DataFrame. Count windows use the
    * flatMapGroupsWithState operators; stages after a window stage see the
    * window result columns (pipeline/passthru scope carrying across a
    * streaming aggregation is not supported — same information loss as the
    * reference's consumed contexts). */
  def compileStream(p: PipelineDef, input: DataFrame,
                    env: Map[String, String] = Map.empty,
                    props: Map[String, String] = Map.empty,
                    instrument: Boolean = false): DataFrame = {
    graft.streaming.LocalCheckpointFiles.install(input.sparkSession)
    compile(p, input, env, props, streaming = true, instrument)
  }

  // --------------------------------------------------------------------

  private def prologue(p: PipelineDef, input: DataFrame): DataFrame = {
    var df = input
    if (!df.columns.contains("__seq") && !df.isStreaming)
      df = df.withColumn("__seq", monotonically_increasing_id())
    // streaming sources must supply __seq themselves (CsvReplay does);
    // stages that need it check explicitly — a constant placeholder
    // would trip the count-window high-water-mark filter and silently
    // drop every sample after a key's first
    // typed coercion of declared inputs + pipeline-scope copies
    p.inputs.foreach { f =>
      df = df.withColumn(f.name, col(f.name).cast(sparkType(f.typ)))
        .withColumn(PipelinePrefix + f.name, col(f.name))
    }
    val group = p.groupBy
      .map(g => col(g).cast("string"))
      .getOrElse(lit(""))
    df.withColumn("__group", group)
  }

  private def epilogue(p: PipelineDef, df: DataFrame): DataFrame = {
    if (p.outputs.isEmpty) return df
    val cols = p.outputs.map { f =>
      val src = if (df.columns.contains(PipelinePrefix + f.name))
        col(PipelinePrefix + f.name)
      else col(f.name)
      src.cast(sparkType(f.typ)).as(f.name)
    }
    df.select(cols: _*)
  }

  private def compileStage(p: PipelineDef, st: StageDef, df: DataFrame,
                           env: Map[String, String], props: Map[String, String],
                           streaming: Boolean): DataFrame = {
    def in(key: String, default: String): Column =
      st.input.get(key)
        .map(v => expr(Dsl.translate(v, env, props)))
        .getOrElse(expr(default))
    val out = st.ref match {
      case "aggregate" => aggregateStage(st, df, in("value", "`value`"), streaming)
      case "filter"    => filterStage(st, df, in("value", "`value`"))
      case "log"       =>
        df.withColumn("message", in("message", "''").cast("string"))
          .withColumn("report", lit(true))
      case other =>
        throw new IllegalArgumentException(s"unknown stage ref: #$other")
    }
    applyOutputMapper(st, out, env, props)
  }

  private def applyOutputMapper(st: StageDef, df: DataFrame,
                                env: Map[String, String],
                                props: Map[String, String]): DataFrame = {
    var out = df
    st.output.foreach { case (target, v) =>
      val c = expr(Dsl.translate(v, env, props))
      target.split("\\.", 2) match {
        case Array("pipeline", name) =>
          out = out.withColumn(PipelinePrefix + name, c)
        case Array("passthru", name) =>
          out = out.withColumn(PassthruPrefix + name, c)
        case Array(name) => out = out.withColumn(name, c)
        case other =>
          // an unknown scope prefix silently dropping the mapping would
          // lose data with no signal — fail at compile time instead
          throw new IllegalArgumentException(
            s"unsupported output mapping target '$target' " +
              s"(scope '${other.headOption.getOrElse("")}'; expected " +
              "pipeline.<name>, passthru.<name>, or a bare column name)")
      }
    }
    out
  }

  private def pooe(st: StageDef): Boolean =
    st.settings.getOrElse("proceedOnlyOnEmit", "true").toBoolean

  private def gate(df: DataFrame, proceedOnlyOnEmit: Boolean): DataFrame =
    if (proceedOnlyOnEmit) df.where(col("report")) else df

  // ---- filter activity (activity/filter; only registered type is
  // non-zero — activity.go:46-50) ----

  private def filterStage(st: StageDef, df: DataFrame, value: Column): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, NumericType}
    val v = df.withColumn("value", value)
    // type dispatch at COMPILE time: only values the reference recognizes
    // as numeric are testable for zero; any other type passes through
    // unfiltered (filters.go:33-34 returns filtered=false for unknown
    // types). A blanket `value === 0.0` would insert a cast that THROWS
    // under Spark 4's default ANSI mode for string/bool inputs, killing
    // the job the reference would wave through.
    val filtered = v.schema("value").dataType match {
      case ArrayType(_: NumericType, _) =>
        !exists(col("value"), x => x =!= 0.0)
      case _: NumericType => col("value") === 0.0
      case _ => lit(false)
    }
    // NULL (unclassifiable) values pass through unfiltered — without the
    // coalesce a NULL value would make `report` NULL and the gate would
    // drop the row silently.
    gate(v.withColumn("filtered", coalesce(filtered, lit(false)))
      .withColumn("report", !col("filtered")), pooe(st))
  }

  // ---- aggregate activity ----

  private def aggregateStage(st: StageDef, df: DataFrame, value: Column,
                             streaming: Boolean): DataFrame = {
    val fn = st.settings.getOrElse("function", "avg")
    val windowType = st.settings.getOrElse("windowType", "tumbling")
    val size = st.settings.getOrElse("windowSize", "5").toInt
    val resolution = st.settings.getOrElse("resolution", "1").toInt max 1
    // keyed variant (W5): additionalSettings nameKey/valueKey make the
    // sample a (name, value) pair with per-name accumulators and a
    // map[name]agg emission (windows.go:425-561). The reference does not
    // support keyed sliding-count windows (windows.go:216-219); neither
    // do we.
    val keyed = st.settings.contains("nameKey") && st.settings.contains("valueKey")
    require(!keyed || st.settings.get("avgCompat").isEmpty,
      "avgCompat is not supported for keyed (nameKey/valueKey) windows")
    require(!keyed || windowType != "sliding",
      "keyed sliding(count) windows are unsupported (windows.go:216-219)")
    (st.settings.get("nameKey"), st.settings.get("valueKey")) match {
      case (Some(nameKey), Some(valueKey)) if streaming =>
        val watermark = st.settings.getOrElse("watermark", "0 seconds")
        gate(keyedStreamingAggregate(df, fn, windowType, size, resolution,
          watermark,
          expr(Dsl.translate(nameKey)), expr(Dsl.translate(valueKey))), pooe(st))
      case (Some(nameKey), Some(valueKey)) =>
        keyedBatchAggregate(df, fn, windowType, size, resolution,
          expr(Dsl.translate(nameKey)), expr(Dsl.translate(valueKey)))
      case _ =>
        val v = df.withColumn("__agg_value", value)
        val watermark = st.settings.getOrElse("watermark", "0 seconds")
        // totalCountModifier > 0 resets maxSamples after every emission
        // (windows.go:198-202), so the divisor degenerates to each pane's
        // own count — exactly the default per-pane avg
        val tcm = st.settings.get("totalCountModifier").map { v =>
          v.toIntOption.getOrElse(throw new IllegalArgumentException(
            s"totalCountModifier must be an integer, got '$v'"))
        }
        val avgCompat = st.settings.get("avgCompat").filterNot(c =>
          c == "maxSamples" && tcm.exists(_ > 0))
        // streaming compat support: int-avg is an incremental sum+count,
        // so it streams over timeTumbling, where the quotient flows as a
        // long end to end. Rejected loudly elsewhere rather than silently
        // diverging: maxSamples needs a cross-pane running max no
        // streaming window aggregation can express (with a
        // totalCountModifier the quirk degenerates away, so it streams),
        // count-window rings are double-typed, and the streaming
        // timeSliding pane wrapper routes values through doubles — a
        // round-trip that would betray the exact-division contract for
        // |avg| >= 2^53.
        require(!streaming || avgCompat.isEmpty ||
          (avgCompat.contains("int") && windowType == "timeTumbling"),
          "streaming avgCompat: only int over timeTumbling is supported " +
            "(maxSamples needs a cross-pane running max; other window " +
            "types route values through doubles)")
        val streamFn =
          if (fn == "avg" && avgCompat.contains("int")) "avgInt" else fn
        // paneAligned=true (divergence #6 compat): unkeyed BATCH
        // timeSliding reports the pane-aligned [end-size, end) value —
        // the reference's block ring, what keyed batch and both
        // streaming paths already report — instead of the default
        // event-anchored trailing range. A no-op on the (already
        // pane-aligned) streaming path, so one pipeline definition
        // compiles to agreeing batch and streaming emissions.
        val paneAligned = st.settings.get("paneAligned").exists(_.toBoolean)
        require(!paneAligned || windowType == "timeSliding",
          "paneAligned applies only to timeSliding windows " +
            "(every other window type has a single alignment)")
        val agged =
          if (streaming) streamingAggregate(v, streamFn, windowType, size,
            resolution, watermark)
          else batchAggregate(v, fn, windowType, size, resolution, avgCompat,
            paneAligned)
        gate(agged, pooe(st))
    }
  }

  /** Keyed window (batch): window assignment as in the unkeyed forms, but
    * aggregation is per (group, window, name) and the emission row carries
    * `result` as a map[name -> agg] (the reference's MapData emission
    * shape, windows.go:469-479). One row per closed window.
    *
    * timeSliding follows the reference's paned BlockMapData design
    * (windows.go:280-393): per-(resolution-ms pane, name) PARTIALS are
    * re-aggregated over a trailing `size`-ms range of panes, and panes
    * only emit once a full window has elapsed since the group's first
    * event (the canEmit warm-up). */
  private def keyedBatchAggregate(df: DataFrame, fn: String, windowType: String,
                                  size: Int, resolution: Int,
                                  name: Column, value: Column): DataFrame = {
    val byKey = Window.partitionBy(col("__group")).orderBy(col("__seq"))
    val withWin = windowType match {
      case "tumbling" =>
        val d = df.withColumn("__rn", row_number().over(byKey) - 1)
          .withColumn("__win",
            ((col("__rn") - pmod(col("__rn"), lit(size))) / size).cast("bigint"))
        // only complete windows emit (size-th sample closes the window)
        d.withColumn("__winN",
          count(lit(1)).over(Window.partitionBy(col("__group"), col("__win"))))
          .where(col("__winN") === size).drop("__winN")
      case "timeTumbling" =>
        df.withColumn("__win",
          (floor(unix_millis(col("__ts")) / size) * size).cast("bigint"))
      case "timeSliding" =>
        df.withColumn("__win",
          (floor(unix_millis(col("__ts")) / resolution) * resolution).cast("bigint"))
      case other =>
        throw new IllegalArgumentException(s"unsupported keyed window: $other")
    }
    val named = withWin
      .withColumn("__name", mapKey(name))
      .withColumn("__value", value)
    val perName =
      if (windowType == "timeSliding") {
        // per-pane partials, then a trailing size-ms pane-range frame
        val partialCols = Seq(
          sum(col("__value")).as("__psum"),
          count(lit(1)).as("__pcount"),
          min(col("__value")).as("__pmin"),
          max(col("__value")).as("__pmax"),
          max(col("__seq")).as("__pseq")) ++
          (if (fn == "accumulate")
            Seq(AggFunctions
              .scalar("accumulate", col("__value"), col("__seq")).as("__plist"))
          else Nil)
        val partials = named
          .groupBy(col("__group"), col("__win"), col("__name"))
          .agg(partialCols.head, partialCols.tail: _*)
        val frame = Window.partitionBy(col("__group"), col("__name"))
          .orderBy(col("__win"))
          .rangeBetween(-(size - resolution).toLong, Window.currentRow)
        val agg = fn match {
          case "sum"   => sum(col("__psum")).over(frame)
          case "count" => sum(col("__pcount")).over(frame)
          case "min"   => min(col("__pmin")).over(frame)
          case "max"   => max(col("__pmax")).over(frame)
          case "avg"   =>
            sum(col("__psum")).over(frame) /
              sum(col("__pcount")).over(frame).cast("double")
          case "accumulate" => flatten(collect_list(col("__plist")).over(frame))
          case other =>
            throw new IllegalArgumentException(s"unknown agg fn: $other")
        }
        partials
          .withColumn("__agg", agg)
          .withColumn("__name_seq", max(col("__pseq")).over(frame))
          // canEmit warm-up: a full window must have elapsed for the group
          .withColumn("__minwin",
            min(col("__win")).over(Window.partitionBy(col("__group"))))
          .where(col("__win") >= col("__minwin") + (size - resolution))
          .select(col("__group"), col("__win"), col("__name"),
            col("__agg"), col("__name_seq"))
      } else {
        named
          .groupBy(col("__group"), col("__win"), col("__name"))
          .agg(AggFunctions.scalar(fn, col("__value"), col("__seq")).as("__agg"),
            max(col("__seq")).as("__name_seq"))
      }
    assembleKeyedMap(perName, Seq(col("__group"), col("__win")))
  }

  /** The map key of every keyed path: a NULL name becomes the Go
    * zero-value "" key, never a NULL_MAP_KEY crash. */
  private def mapKey(name: Column): Column =
    coalesce(name.cast("string"), lit(""))

  /** Per-window map[name -> agg] emission shape shared by the batch and
    * streaming keyed paths (the reference's MapData emission,
    * windows.go:469-479). Expects (__name, __agg, __name_seq) columns
    * plus the grouping columns. */
  private def assembleKeyedMap(perName: DataFrame,
                               groupCols: Seq[Column]): DataFrame =
    perName.groupBy(groupCols: _*)
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("__name"), col("__agg"))))).as("result"),
        max(col("__name_seq")).as("__seq"))
      .withColumn("report", lit(true))

  /** Batch formulation: window functions partitioned by the group key,
    * ordered by arrival — row-preserving, so emissions keep the triggering
    * event's scope columns. */
  private def batchAggregate(df: DataFrame, fn: String, windowType: String,
                             size: Int, resolution: Int,
                             avgCompat: Option[String] = None,
                             paneAligned: Boolean = false): DataFrame = {
    require(avgCompat.forall(c => c == "int" || c == "maxSamples"),
      s"unknown avgCompat setting: ${avgCompat.orNull} (expected int|maxSamples)")
    // opt-in reference quirk (settings avgCompat=int): avg over an int
    // stream truncates like Go integer division (average.go:75-76) —
    // applies to every batch window type
    val effFn = if (fn == "avg" && avgCompat.contains("int")) "avgInt" else fn
    val byKey = Window.partitionBy(col("__group")).orderBy(col("__seq"))
    windowType match {
      // opt-in reference quirk (settings avgCompat=maxSamples): the
      // reference's timeTumbling avg divides by the HIGH-WATER mark of
      // pane sizes seen so far, not the emitting pane's own count
      // (windows.go:177-205, maxSamples at :192)
      case "timeTumbling" if fn == "avg" && avgCompat.contains("maxSamples") =>
        val pane = (floor(unix_millis(col("__ts")) / size) * size).cast("bigint")
        val paneFrame = Window.partitionBy(col("__group"), col("__pane"))
        val runMax = Window.partitionBy(col("__group")).orderBy(col("__pane"))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("__pane", pane)
          .withColumn("__psum", sum(col("__agg_value")).over(paneFrame))
          .withColumn("__pcnt", count(col("__agg_value")).over(paneFrame))
          .withColumn("__runmax", max(col("__pcnt")).over(runMax))
          .withColumn("result",
            AggFunctions.maxSamplesAvgCompat(col("__psum"), col("__runmax")))
          .withColumn("report",
            row_number().over(paneFrame.orderBy(col("__seq").desc)) === 1)
      case "tumbling" =>
        val rn = row_number().over(byKey) - 1
        val winId = (col("__rn") - pmod(col("__rn"), lit(size))) / size
        val winFrame = Window.partitionBy(col("__group"), col("__win"))
        df.withColumn("__rn", rn)
          .withColumn("__win", winId)
          .withColumn("result",
            AggFunctions.over(effFn, col("__agg_value"),
              winFrame.orderBy(col("__seq"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("report", pmod(col("__rn"), lit(size)) === size - 1)
      case "sliding" =>
        val frame = byKey.rowsBetween(-(size - 1), Window.currentRow)
        df.withColumn("__rn", row_number().over(byKey) - 1)
          .withColumn("result", AggFunctions.over(effFn, col("__agg_value"), frame))
          .withColumn("report",
            CountWindows.slidingCadence(col("__rn"), size, resolution))
      case "timeTumbling" =>
        // pane = floor(ts / size ms); timer emission == last event in pane
        // (the ticker consumes the last stalled context, state.go:233-241)
        val pane = (floor(unix_millis(col("__ts")) / size) * size).cast("bigint")
        val paneFrame = Window.partitionBy(col("__group"), col("__pane"))
        df.withColumn("__pane", pane)
          .withColumn("result",
            AggFunctions.over(effFn, col("__agg_value"),
              paneFrame.orderBy(col("__seq"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("report",
            row_number().over(paneFrame.orderBy(col("__seq").desc)) === 1)
      case "timeSliding" =>
        // emission on the last event of each resolution-ms pane once a
        // full window has elapsed for the key (same set either way);
        // the VALUE is the event-anchored trailing size-ms range by
        // default, or — paneAligned (divergence #6 compat) — the
        // pane-aligned [paneEnd-size, paneEnd) block-ring value:
        // a range frame over PANE IDS, where every row of a pane is a
        // range peer, so the frame is exactly the trailing
        // size/resolution panes regardless of where the anchor event
        // sits inside its pane
        val ms = unix_millis(col("__ts"))
        val pane = (floor(ms / resolution) * resolution).cast("bigint")
        val paneFrame = Window.partitionBy(col("__group"), col("__pane"))
        val withPane = df.withColumn("__pane", pane)
        val result =
          if (paneAligned) {
            val paneRange = Window.partitionBy(col("__group"))
              .orderBy(col("__pane"))
              .rangeBetween(-(size - resolution).toLong, Window.currentRow)
            effFn match {
              // in-pane range peers make frame order arbitrary, so sort
              // the collected (seq, value) pairs instead of trusting it
              case "accumulate" =>
                transform(array_sort(collect_list(struct(
                    col("__seq").as("o"), col("__agg_value").as("v")))
                  .over(paneRange)), e => e.getField("v"))
              case f => AggFunctions.over(f, col("__agg_value"), paneRange)
            }
          } else AggFunctions.over(effFn, col("__agg_value"),
            Window.partitionBy(col("__group")).orderBy(ms)
              .rangeBetween(-(size - 1), Window.currentRow))
        withPane
          .withColumn("result", result)
          .withColumn("__warm",
            unix_millis(col("__ts")) - min(unix_millis(col("__ts")))
              .over(Window.partitionBy(col("__group"))) >= size)
          .withColumn("report",
            col("__warm") &&
              row_number().over(paneFrame.orderBy(col("__seq").desc)) === 1)
      case other =>
        throw new IllegalArgumentException(s"unknown windowType: $other")
    }
  }

  /** Streaming keyed (nameKey/valueKey) windows — reference
    * windows.go:425-467 in the streaming engine.
    *  - tumbling(count): the keyed flatMapGroupsWithState operator.
    *  - timeTumbling / timeSliding: CHAINED streaming aggregations
    *    (Spark 3.4+ multiple-stateful-operator support): per-(window,
    *    group, name) aggregate, then per-(window, group) map assembly —
    *    both incremental, both distributed, emitted when the watermark
    *    closes the window. Sliding uses the built-in paned
    *    window(size, slide) and the warm-up gate, like the unkeyed
    *    streaming path. */
  private def keyedStreamingAggregate(df: DataFrame, fn: String,
                                      windowType: String, size: Int,
                                      resolution: Int, watermark: String,
                                      name: Column, value: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    windowType match {
      case "tumbling" =>
        require(df.columns.contains("__seq"),
          "streaming keyed count windows need a source-provided __seq column")
        val ds = df.select(col("__group").as("key"), col("__seq").as("seq"),
          mapKey(name).as("name"), value.cast("double").as("value"))
          .as[CountWindows.KeyedNamedSample]
        CountWindows.keyedCountStream(ds, size, fn).toDF()
          .select(col("key").as("__group"), col("emitAtSeq").as("__seq"),
            col("result"), lit(true).as("report"))
      case "timeTumbling" =>
        val perName = df
          .withColumn("__name", mapKey(name))
          .withColumn("__kv", value)
          .withWatermark("__ts", watermark)
          .groupBy(window(col("__ts"), s"$size milliseconds"),
            col("__group"), col("__name"))
          .agg(AggFunctions.scalar(fn, col("__kv"), col("__seq")).as("__agg"),
            max(col("__seq")).as("__name_seq"))
        assembleKeyedMap(perName, Seq(col("window"), col("__group")))
          .select(col("__group"), col("__seq"), col("result"), col("report"))
      case "timeSliding" =>
        // paned per-name aggregate -> per-window map assembly -> warm-up
        // gate (same canEmit contract as the unkeyed streaming path; the
        // keyed batch path enforces it with its global window)
        val perName = df
          .withColumn("__name", mapKey(name))
          .withColumn("__kv", value)
          .withWatermark("__ts", watermark)
          .groupBy(window(col("__ts"), s"$size milliseconds",
            s"$resolution milliseconds"), col("__group"), col("__name"))
          .agg(AggFunctions.scalar(fn, col("__kv"), col("__seq")).as("__agg"),
            max(col("__seq")).as("__name_seq"),
            min(unix_millis(col("__ts"))).as("__nmin"),
            max(unix_millis(col("__ts"))).as("__nmax"))
        val assembled = perName.groupBy(col("window"), col("__group"))
          .agg(map_from_entries(array_sort(
            collect_list(struct(col("__name"), col("__agg"))))).as("__map"),
            max(col("__name_seq")).as("__seq"),
            min(col("__nmin")).as("__tmin"), max(col("__nmax")).as("__tmax"))
        gatePanes(assembled, fn, size, resolution)
          .select(col("__group"), col("__seq"), col("result"),
            lit(true).as("report"))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported streaming keyed window: $other")
    }
  }

  /** Streaming formulation: count windows via the stateful operators;
    * time windows via built-in event-time window aggregation.
    * `watermark` (a stage setting, e.g. "10 seconds") bounds how late an
    * event may arrive and still join its pane — late-data support the
    * reference lacks entirely (its clock is wall-time only,
    * windows.go:419-423). Default "0 seconds" = in-order streams. */
  private def streamingAggregate(df: DataFrame, fn: String, windowType: String,
                                 size: Int, resolution: Int,
                                 watermark: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    windowType match {
      case "tumbling" | "sliding" =>
        require(df.columns.contains("__seq"),
          "streaming count windows need a source-provided __seq column " +
            "(monotone arrival order per key; CsvReplay supplies one)")
        val ds = df.select(col("__group").as("key"), col("__seq").as("seq"),
          col("__agg_value").cast("double").as("value"))
          .as[CountWindows.KeyedSample]
        val res = if (windowType == "tumbling") size else resolution
        val result = if (fn == "accumulate") col("values") else col("result")
        CountWindows.countStream(ds, size, res, fn).toDF()
          .select(col("key").as("__group"), col("emitAtSeq").as("__seq"),
            result.as("result"), lit(true).as("report"))
      case "timeTumbling" =>
        df.withWatermark("__ts", watermark)
          .groupBy(window(col("__ts"), s"$size milliseconds"), col("__group"))
          .agg(AggFunctions.scalar(fn, col("__agg_value"), col("__seq")).as("result"))
          .select(col("__group"), unix_millis(col("window.end")).as("__seq"),
            col("result"), lit(true).as("report"))
      case "timeSliding" =>
        // paned aggregation, then the stateful warm-up gate: the
        // reference's canEmit (windows.go:362-371) suppresses all panes
        // until a full window has elapsed for the group — the same
        // emission set as the batch formulation's `ts - min(ts) >= size`
        val agg = df.withWatermark("__ts", watermark)
          .groupBy(window(col("__ts"), s"$size milliseconds",
            s"$resolution milliseconds"), col("__group"))
          .agg(AggFunctions.scalar(fn, col("__agg_value"), col("__seq")).as("__r"),
            min(unix_millis(col("__ts"))).as("__tmin"),
            max(unix_millis(col("__ts"))).as("__tmax"))
        val assembled = agg.select(col("window"), col("__group"),
          map(lit(""), col("__r")).as("__map"),
          unix_millis(col("window.end")).as("__seq"), col("__tmin"),
          col("__tmax"))
        gatePanes(assembled, fn, size, resolution)
          .select(col("__group"), col("__seq"),
            element_at(col("result"), lit("")).as("result"),
            lit(true).as("report"))
      case other =>
        throw new IllegalArgumentException(s"unknown windowType: $other")
    }
  }

  /** The streaming timeSliding warm-up gate ([[PaneGate]]) over closed
    * panes shaped as the keyed emission: `window`, `__group`, `__seq`,
    * `__tmin`/`__tmax` (pane event-time bounds, ms) and `__map`
    * (map[name -> agg]; the unkeyed path's single name is ""). Returns
    * `__group`, `__seq` and the surviving panes' `result` map. */
  private def gatePanes(assembled: DataFrame, fn: String, size: Int,
                        resolution: Int): DataFrame = {
    val spark = assembled.sparkSession
    import spark.implicits._
    implicit val ss: org.apache.spark.sql.SparkSession = spark
    // the gate's payload is map<string, array<double>>
    val wrapped =
      if (fn == "accumulate")
        transform_values(col("__map"),
          (_, v) => transform(v, x => x.cast("double")))
      else transform_values(col("__map"), (_, v) => array(v.cast("double")))
    val panes = assembled.select(col("__group").as("group"),
      unix_millis(col("window.start")).as("winStart"),
      unix_millis(col("window.end")).as("winEnd"),
      col("__tmin").as("minTs"), col("__tmax").as("maxTs"),
      col("__seq").as("seq"), wrapped.as("result"))
      .as[PaneGate.Pane]
    val unwrapped =
      if (fn == "accumulate") col("result")
      else transform_values(col("result"), (_, v) => element_at(v, 1))
    PaneGate.warmGate(panes, size, resolution).toDF()
      .select(col("group").as("__group"), col("seq").as("__seq"),
        unwrapped.as("result"))
  }
}
