"""Stream transform pipeline, filter rules, changeset conversion, alerts.

Reference surface (all declared in the reference; the transform/alert
files are not compiled into its workspace — SURVEY.md §0.1 — so this
implements the *declared intent*):

- FilterRule {field, operator: Equals/NotEquals/Contains/Exists/
  NotExists, action: Keep/Drop/Modify}   (stream_transform.rs:196-315)
- StreamTransformPipeline: ordered stages, an event stops at the first
  stage that drops it; dropped events count as filtered
  (stream_transform.rs:110-193)
- convert_to_changesets: group a batch of events by source into
  ChangeSets                              (stream_processing.rs:670-711)
- AlertRule {rule_type: Threshold/Rate, conditions, priority, cooldown}
  with cooldown suppression               (realtime_analytics.rs:73-160,
  evaluate_* :440-522, is_in_cooldown :524-533)

Spark shape:
- filter rules and Modify actions lower to when()/filter() column
  expressions — whole-stage codegen, identical on batch and streaming
  frames;
- changeset conversion is a groupBy over the micro-batch (each source's
  rows become one changeset, id = stream_{batch}_{source});
- threshold alerts: a JVM-side filter narrows the stream to candidate
  rows, then the greedy cooldown chain (fire, then suppress until
  cooldown elapses) is resolved DISTRIBUTED: per-candidate successor
  pointers over cooldown-width time buckets + pointer-doubling path
  extraction — no task ever holds a rule's full candidate set (see
  greedy_cooldown_fires);
- rate alerts: windowed counts vs threshold — pure aggregation.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dd_graphdb_spark.algorithms._iter import _ckpt
from dd_graphdb_spark.localrel import local_df


# --------------------------------------------------------------------------
# Filter rules (stream_transform.rs:196-315)
# --------------------------------------------------------------------------
@dataclass
class FilterRule:
    rule_id: str
    field: str
    operator: str  # equals | not_equals | contains | exists | not_exists
    value: object = None
    action: str = "keep"  # keep | drop | modify
    modifications: dict = dc_field(default_factory=dict)  # for modify

    def matches(self) -> Column:
        c = F.col(self.field)
        if self.operator == "equals":
            return c.eqNullSafe(F.lit(self.value))
        if self.operator == "not_equals":
            return ~c.eqNullSafe(F.lit(self.value))
        if self.operator == "contains":
            return c.cast("string").contains(str(self.value))
        if self.operator == "exists":
            return c.isNotNull()
        if self.operator == "not_exists":
            return c.isNull()
        raise ValueError(f"unknown operator {self.operator}")


def apply_filter_rules(df: DataFrame, rules: list[FilterRule]) -> DataFrame:
    """Apply rules in order: Drop removes matching rows, Modify rewrites
    matched rows' fields, Keep is a no-op marker (matching events simply
    continue). Rows surviving every rule flow on."""
    for r in rules:
        m = r.matches()
        if r.action == "drop":
            df = df.filter(~m)
        elif r.action == "modify":
            # ONE select applying every modification against the same
            # matched set: chained withColumn would re-resolve the match
            # predicate against already-modified columns, so a rule that
            # modifies its own match field would apply later
            # modifications to the wrong rows (dict-order dependent)
            mods = {
                col_name: F.when(m, F.lit(new_val)).otherwise(
                    F.col(col_name) if col_name in df.columns else F.lit(None)
                )
                for col_name, new_val in r.modifications.items()
            }
            df = df.select(
                *[mods.get(c, F.col(c)).alias(c) for c in df.columns],
                *[mods[c].alias(c) for c in mods if c not in df.columns],
            )
        elif r.action != "keep":
            raise ValueError(f"unknown action {r.action}")
    return df


# --------------------------------------------------------------------------
# Transform pipeline (stream_transform.rs:110-193)
# --------------------------------------------------------------------------
class TransformPipeline:
    """Ordered stages; each stage is (name, df -> df). ``apply`` runs all
    stages; ``apply_with_dead_letter`` additionally returns the rows the
    pipeline dropped (the reference's dead-letter configuration).
    """

    def __init__(self):
        self.stages: list[tuple[str, Callable[[DataFrame], DataFrame]]] = []

    def add_stage(self, name: str, fn: Callable[[DataFrame], DataFrame]) -> "TransformPipeline":
        self.stages.append((name, fn))
        return self

    def add_filter_stage(self, name: str, rules: list[FilterRule]) -> "TransformPipeline":
        return self.add_stage(name, lambda df, _r=rules: apply_filter_rules(df, _r))

    def apply(self, df: DataFrame) -> DataFrame:
        for _, fn in self.stages:
            df = fn(df)
        return df

    def apply_with_dead_letter(self, df: DataFrame, key_cols: list[str]) -> tuple[DataFrame, DataFrame]:
        """Returns (transformed, dead_letter): dead-letter = input rows
        whose keys did not survive the pipeline (anti-join — stays
        distributed)."""
        out = self.apply(df)
        dead = df.join(out.select(*key_cols).distinct(), key_cols, "left_anti")
        return out, dead

    def stats(self, df: DataFrame, key_cols: list[str]) -> dict[str, int]:
        """PipelineStats parity (events_processed/transformed/filtered).
        Batch-frame helper — the input is pinned so its source is scanned
        once even though two counts run."""
        df = df.persist()
        try:
            n_in = df.count()
            n_out = self.apply(df).count()
        finally:
            df.unpersist()
        return {
            "events_processed": n_in,
            "events_transformed": n_out,
            "events_filtered": n_in - n_out,
        }


# --------------------------------------------------------------------------
# Event → changeset conversion (stream_processing.rs:670-711)
# --------------------------------------------------------------------------
def convert_to_changesets(
    batch_df: DataFrame, source_col: str = "source", batch_id: int = 0
) -> DataFrame:
    """Tag every event with its changeset id: one changeset per source
    per micro-batch (id = stream_{batch}_{source}). The reference
    collects each group into a ChangeSet struct; distributed, the tag IS
    the grouping — downstream per-changeset work is a groupBy."""
    return batch_df.withColumn(
        "changeset_id",
        F.concat(F.lit(f"stream_{batch_id}_"), F.col(source_col).cast("string")),
    )


def changeset_summary(batch_df: DataFrame, source_col: str = "source", batch_id: int = 0) -> DataFrame:
    """One row per changeset: id, source, change count."""
    return (
        convert_to_changesets(batch_df, source_col, batch_id)
        .groupBy("changeset_id", F.col(source_col).alias("source"))
        .agg(F.count("*").alias("n_changes"))
    )


# --------------------------------------------------------------------------
# Alert rules (realtime_analytics.rs:73-160, 344-558)
# --------------------------------------------------------------------------
@dataclass
class AlertRule:
    rule_id: str
    rule_type: str  # threshold | rate | pattern | anomaly (AlertRuleType)
    metric: str  # column holding the metric value
    operator: str  # gt | ge | lt | le | eq | ne  (ComparisonOperator)
    threshold: float  # threshold/rate: metric bound; anomaly: z-score bound
    priority: str = "medium"  # critical | high | medium | low | info
    cooldown_s: int = 0  # suppress re-fire within cooldown of last fire
    window: str = "1 hour"  # rate: count window; anomaly: baseline window
    # pattern rules: ordered stage values matched against `field`, the
    # whole sequence must complete within `within_s` of its first event
    sequence: list = dc_field(default_factory=list)
    field: str = "event_type"
    within_s: float = 3600.0


#: windows folded per bucket in the anomaly rule's two-level lag
_ANOMALY_FOLD = 4096

_DUR_UNITS_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}


#: abbreviated unit spellings Spark's CalendarInterval parser also accepts
#: (so any `window=` string F.window() took keeps working here); resolved
#: BEFORE the plural rstrip — "ms".rstrip("s") would mangle to "m".
_DUR_ALIASES = {
    "us": "microsecond",
    "ms": "millisecond",
    "sec": "second",
    "secs": "second",
    "min": "minute",
    "mins": "minute",
    "hr": "hour",
    "hrs": "hour",
}


def _duration_us(s: str) -> int:
    """Parse a Spark interval string like '10 seconds' / '1 hour' to µs
    (the subset window() accepts; multi-part intervals summed)."""
    total, parts = 0, s.strip().lower().split()
    if len(parts) % 2:
        raise ValueError(f"bad duration {s!r}")
    for i in range(0, len(parts), 2):
        tok = parts[i + 1]
        n, unit = parts[i], _DUR_ALIASES.get(tok, tok.rstrip("s"))
        if unit not in _DUR_UNITS_US:
            raise ValueError(f"bad duration unit in {s!r}")
        total += int(n) * _DUR_UNITS_US[unit]
    if total <= 0:
        raise ValueError(f"non-positive duration {s!r}")
    return total


_OPS = {
    "gt": lambda c, t: c > t,
    "ge": lambda c, t: c >= t,
    "lt": lambda c, t: c < t,
    "le": lambda c, t: c <= t,
    "eq": lambda c, t: c == t,
    "ne": lambda c, t: c != t,
}


class AlertEngine:
    """Evaluate alert rules over an event frame (batch or per
    micro-batch via foreachBatch).

    - threshold rules (evaluate_threshold_rule, :459-483): candidate
      rows = metric ⟨op⟩ threshold (JVM filter); the greedy cooldown
      chain (fire, suppress until cooldown passes — is_in_cooldown,
      :524-533) resolves via the distributed bucketed successor walk in
      ``greedy_cooldown_fires`` — hot rules no longer serialize into a
      single task.
    - rate rules (evaluate_rate_rule, :485-509): events-per-window
      count compared to the threshold; fires once per breaching window
      (windows are natural cooldown buckets).
    Output: (rule_id, priority, ts, metric_value).
    """

    def __init__(self, rules: list[AlertRule]):
        self.rules = rules

    def evaluate(self, df: DataFrame, ts_col: str = "ts", order_col: str = "event_id") -> DataFrame:
        spark = df.sparkSession
        out_schema = "rule_id string, priority string, ts timestamp, metric_value double"
        alerts = local_df(spark, [], out_schema)
        for rule in self.rules:
            if rule.rule_type == "threshold":
                alerts = alerts.unionByName(self._threshold(df, rule, ts_col, order_col))
            elif rule.rule_type == "rate":
                alerts = alerts.unionByName(self._rate(df, rule, ts_col))
            elif rule.rule_type == "pattern":
                alerts = alerts.unionByName(self._pattern(df, rule, ts_col))
            elif rule.rule_type == "anomaly":
                alerts = alerts.unionByName(self._anomaly(df, rule, ts_col))
            else:
                raise ValueError(f"unsupported rule type {rule.rule_type}")
        return alerts

    def _threshold(self, df: DataFrame, rule: AlertRule, ts_col: str, order_col: str) -> DataFrame:
        # order_col is only consumed by the cooldown successor walk — a
        # no-cooldown rule must not require it to exist in the frame
        ord_col = (
            F.col(order_col)
            if (rule.cooldown_s > 0 or order_col in df.columns)
            else F.lit(0)
        )
        cand = df.filter(_OPS[rule.operator](F.col(rule.metric), F.lit(rule.threshold))).select(
            F.col(ts_col).alias("ts"),
            ord_col.alias("_ord"),
            F.col(rule.metric).cast("double").alias("metric_value"),
        )
        if rule.cooldown_s <= 0:
            return cand.select(
                F.lit(rule.rule_id).alias("rule_id"),
                F.lit(rule.priority).alias("priority"),
                "ts",
                "metric_value",
            )
        return greedy_cooldown_fires(cand, rule.cooldown_s).select(
            F.lit(rule.rule_id).alias("rule_id"),
            F.lit(rule.priority).alias("priority"),
            "ts",
            "metric_value",
        )

    def _rate(self, df: DataFrame, rule: AlertRule, ts_col: str) -> DataFrame:
        counts = df.groupBy(F.window(ts_col, rule.window).alias("w")).agg(
            F.count("*").cast("double").alias("metric_value")
        )
        breach = counts.filter(_OPS[rule.operator](F.col("metric_value"), F.lit(rule.threshold)))
        return breach.select(
            F.lit(rule.rule_id).alias("rule_id"),
            F.lit(rule.priority).alias("priority"),
            F.col("w.start").alias("ts"),
            "metric_value",
        )

    def _pattern(self, df: DataFrame, rule: AlertRule, ts_col: str) -> DataFrame:
        """Pattern rule (AlertRuleType::Pattern + PatternDetector intent,
        realtime_analytics.rs:103-104, 252-274 — the reference's
        evaluate_pattern_rule is a stub, :511-515): windowed event-
        sequence detection. For each event matching ``sequence[0]``, the
        match advances greedily to the EARLIEST later event of each next
        stage; the full sequence must complete within ``within_s`` of
        the anchor. Fires at the completing event; metric_value = the
        anchor→completion duration in microseconds.

        Distributed shape: each stage advance is an earliest-successor
        lookup bucketed on within_s-width windows (a match spans at most
        one bucket boundary), so — like the cooldown chain — no task
        ever holds a stage's full event set.
        """
        if len(rule.sequence) < 2:
            raise ValueError("pattern rule needs a sequence of >= 2 stages")
        wus = int(round(rule.within_s * 1_000_000))
        tagged = df.select(
            F.col(rule.field).alias("_v"), F.unix_micros(F.col(ts_col)).alias("t")
        )
        # anchors keep their EVENT multiplicity: per-event evaluation
        # means N anchor events at the same instant fire N alerts (the
        # sf1 replica gate caught the old distinct() silently collapsing
        # them). Stage advances still run on distinct instants — the
        # greedy earliest-successor chain is one path per anchor instant,
        # so later-stage duplicates never multiply matches — and the
        # multiplicity re-joins on t1 at the end (array_repeat explode,
        # bounded by the per-instant duplicate count).
        anchors = (
            tagged.filter(F.col("_v") == F.lit(rule.sequence[0]))
            .groupBy("t")
            .agg(F.count("*").alias("_m"))
        )
        cur = anchors.select(F.col("t").alias("t1"), F.col("t").alias("tcur"))
        for stage_val in rule.sequence[1:]:
            nxt = tagged.filter(F.col("_v") == F.lit(stage_val)).select("t").distinct()
            cur = _advance_stage(cur, nxt, wus)
        return (
            cur.join(anchors.select(F.col("t").alias("t1"), "_m"), "t1")
            .select(
                F.lit(rule.rule_id).alias("rule_id"),
                F.lit(rule.priority).alias("priority"),
                F.timestamp_micros(F.col("tcur")).alias("ts"),
                (F.col("tcur") - F.col("t1")).cast("double").alias("metric_value"),
                F.explode(
                    F.array_repeat(F.lit(1), F.col("_m").cast("int"))
                ).alias("_dup"),
            )
            .drop("_dup")
        )

    def _anomaly(self, df: DataFrame, rule: AlertRule, ts_col: str) -> DataFrame:
        """Anomaly rule (AlertRuleType::Anomaly + AnomalyDetector intent,
        realtime_analytics.rs:105-106, 276-289 — evaluate_anomaly_rule is
        a stub, :517-521): each event's metric is z-scored against the
        mean/stddev of the PREVIOUS non-empty baseline window
        (``rule.window`` tumbling); fires when |z| ⟨op⟩ threshold.

        Determinism: window sums of the metric and its square are exact
        DECIMALs; mean/variance/z derive from them with a fixed double
        expression tree, so Spark and a SQL oracle agree bit-for-bit.
        Baseline stats are one row per window (output-proportional);
        events join them via an equi-join on their window start.

        The previous-window lookup is a THREE-LEVEL lag, not a
        global-order window (which would move every window-stat row to
        one task): rows lag within a 4096-window bucket partition
        (_ANOMALY_FOLD); each bucket's first row takes the nearest
        preceding non-empty bucket's last row from a per-bucket summary,
        which itself lags within a 4096-bucket SUPER-bucket partition;
        only the per-super-bucket summary — windows/4096² rows — sees a
        global-order window. Same values, bounded tasks at any window
        count (10^9 windows → ~60 summary rows in the one global task).
        """
        from pyspark.sql import Window

        dec = F.col(rule.metric).cast("decimal(18,6)")
        wstats = df.groupBy(F.window(ts_col, rule.window).alias("w")).agg(
            F.count("*").alias("n"),
            F.sum(dec).alias("s"),
            F.sum(dec * dec).alias("ss"),
        )
        bkt_us = _ANOMALY_FOLD * _duration_us(rule.window)
        stats = wstats.select(
            F.col("w.start").alias("_wstart"), "n", "s", "ss"
        ).withColumn("_bkt", F.expr(_floor_div_expr("unix_micros(_wstart)", bkt_us)))
        wloc = Window.partitionBy("_bkt").orderBy("_wstart")
        loc = stats.select(
            "_wstart",
            "_bkt",
            F.lag("n").over(wloc).alias("_ln"),
            F.lag("s").over(wloc).alias("_ls"),
            F.lag("ss").over(wloc).alias("_lss"),
        )
        last = stats.groupBy("_bkt").agg(
            F.max_by(F.struct("n", "s", "ss"), "_wstart").alias("b")
        ).withColumn("_sb", F.expr(_floor_div_expr("_bkt", _ANOMALY_FOLD)))
        # level 2 recursed: bucket-summary rows lag within a super-bucket
        # partition; only the super-bucket summary is globally ordered
        wsup = Window.partitionBy("_sb").orderBy("_bkt")
        sup_prev = (
            last.groupBy("_sb")
            .agg(F.max_by("b", "_bkt").alias("sb_last"))
            .select(
                "_sb", F.lag("sb_last").over(Window.orderBy("_sb")).alias("sb_pb")
            )
        )
        prev = (
            last.withColumn("_pb_loc", F.lag("b").over(wsup))
            .join(sup_prev, "_sb")
            .select("_bkt", F.coalesce("_pb_loc", "sb_pb").alias("pb"))
        )
        base = loc.join(prev, "_bkt").select(
            "_wstart",
            # n/s/ss are never null, so a null lag means first-in-bucket
            # → fall back to the preceding non-empty bucket's last row
            F.coalesce(F.col("_ln"), F.col("pb.n")).alias("pn"),
            F.coalesce(F.col("_ls"), F.col("pb.s")).alias("ps"),
            F.coalesce(F.col("_lss"), F.col("pb.ss")).alias("pss"),
        )
        pn = F.col("pn").cast("double")
        ps = F.col("ps").cast("double")
        pss = F.col("pss").cast("double")
        mean = ps / pn
        var = (pss - ps * ps / pn) / pn
        z = (F.col(rule.metric).cast("double") - mean) / F.sqrt(var)
        ev = df.withColumn("_wstart", F.window(F.col(ts_col), rule.window)["start"]).join(
            F.broadcast(base), "_wstart"
        )
        return (
            ev.filter(
                (F.col("pn") >= 2)
                & (var > 0)
                & _OPS[rule.operator](F.abs(z), F.lit(rule.threshold))
            )
            .select(
                F.lit(rule.rule_id).alias("rule_id"),
                F.lit(rule.priority).alias("priority"),
                F.col(ts_col).alias("ts"),
                F.round(z, 6).alias("metric_value"),
            )
        )


def _floor_div_expr(expr: str, n: int) -> str:
    """Integer FLOOR division as a SQL fragment: plain `DIV` truncates
    toward zero, so bucket 0 would span (-n, +n) and the bucket-width
    invariants (successor lives in bucket k or k+1) break for negative
    (pre-1970) timestamps. (x - pmod(x, n)) is an exact multiple of n,
    so the DIV is exact integer floor division at any magnitude."""
    return f"(({expr}) - pmod({expr}, {n})) DIV {n}"


def _advance_stage(cur: DataFrame, nxt: DataFrame, wus: int) -> DataFrame:
    """One pattern-stage advance: for each partial match (t1, tcur) find
    the earliest next-stage event strictly after tcur and within
    t1 + wus. Candidates live in bucket(tcur) (strict in-bucket ceiling,
    per-bucket window) or bucket(tcur)+1 (that bucket's minimum — any
    event there is already > tcur); both are bounded per-task."""
    from pyspark.sql import Window

    data = nxt.select(
        F.expr(_floor_div_expr("t", wus)).alias("_bucket"),
        F.col("t").alias("pos"),
        F.col("t").alias("data_t"),
        F.lit(None).cast("long").alias("q_t1"),
        F.lit(None).cast("long").alias("q_tcur"),
    )
    qrys = cur.select(
        F.expr(_floor_div_expr("tcur", wus)).alias("_bucket"),
        F.col("tcur").alias("pos"),
        F.lit(None).cast("long").alias("data_t"),
        F.col("t1").alias("q_t1"),
        F.col("tcur").alias("q_tcur"),
    )
    # strict ceiling: desc by pos; on ties query rows come FIRST (null
    # data_t) so an equal-t event is NOT taken as the successor
    w = (
        Window.partitionBy("_bucket")
        .orderBy(F.col("pos").desc(), F.col("data_t").desc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ceil_same = (
        data.unionByName(qrys)
        .withColumn("_ceil", F.min("data_t").over(w))
        .filter(F.col("q_tcur").isNotNull())
        .select("_bucket", "q_t1", "q_tcur", "_ceil")
    )
    next_bmin = nxt.groupBy(F.expr(_floor_div_expr("t", wus)).alias("_b")).agg(
        F.min("t").alias("_next_bmin")
    ).select((F.col("_b") - 1).alias("_bucket"), "_next_bmin")
    return (
        ceil_same.join(next_bmin, "_bucket", "left")
        .select(
            F.col("q_t1").alias("t1"),
            F.least("_ceil", "_next_bmin").alias("tcur"),
        )
        .filter(F.col("tcur").isNotNull() & (F.col("tcur") <= F.col("t1") + F.lit(wus)))
    )


# --------------------------------------------------------------------------
# Distributed greedy cooldown chain (is_in_cooldown, realtime_analytics.rs:
# 524-533): fire, then suppress candidates until >= cooldown has elapsed
# since the last fire; repeat. The recurrence is sequential (each fire
# moves the window) but decomposes exactly over cooldown-width time
# buckets, so no task ever holds a rule's full candidate set — the r2
# formulation (one applyInPandas task per rule) collapsed a hot rule into
# a single Python task.
#
# Key facts (cd = cooldown in µs, buckets of width cd on unix-µs time):
# 1. Two fires are >= cd apart, so each bucket fires at most once, and a
#    fire at t is followed by a fire in bucket(t)+1 (if any candidate
#    there is >= t+cd) or else by the FIRST candidate of any later
#    bucket (their candidates all start >= t+cd).
# 2. So the chain is a walk over succ(t) = coalesce(
#       min{t' in bucket(t)+1 : t' >= t+cd},   -- per-candidate ceiling
#       min candidate of first bucket > bucket(t)+1)  -- bucket summary
#    succ is precomputable for EVERY candidate in parallel:
#    - the ceiling queries resolve with one per-bucket window (sort
#      data+query rows by time desc, running min of data rows) — each
#      task holds ~2 adjacent buckets' candidates, never the rule total;
#    - the fallback comes from the bucket-minimum table, one row per
#      nonempty cooldown window — the same size as the maximum possible
#      fire output, so the single-task window over it is output-bounded,
#      not input-bounded.
# 3. The fire set = the path from min(t) through succ — extracted by
#    pointer doubling (succ, succ², succ⁴, ...): ceil(log2(#fires))
#    rounds of self-joins, all distributed.
# --------------------------------------------------------------------------
def _bucket_ceilings(c: DataFrame, cdus: int) -> DataFrame:
    """For each candidate row (t, _bucket): nxt_t = min candidate t' in
    bucket+1 with t' >= t + cdus (NULL if none). One window task per
    bucket; no cross-bucket data movement beyond the adjacent bucket."""
    from pyspark.sql import Window

    data = c.select("_bucket", F.col("t").alias("pos"), F.col("t").alias("data_t"),
                    F.lit(None).cast("long").alias("src_t"))
    qrys = c.select((F.col("_bucket") + 1).alias("_bucket"),
                    (F.col("t") + F.lit(cdus)).alias("pos"),
                    F.lit(None).cast("long").alias("data_t"),
                    F.col("t").alias("src_t"))
    u = data.unionByName(qrys)
    # desc by time; on pos ties data rows sort first (non-null data_t) so
    # a candidate exactly at t+cd is included in its own query's window
    w = (
        Window.partitionBy("_bucket")
        .orderBy(F.col("pos").desc(), F.col("data_t").desc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("ceil_t", F.min("data_t").over(w))
    return u.filter(F.col("src_t").isNotNull()).select(
        F.col("src_t").alias("t"), F.col("ceil_t").alias("nxt_t")
    )


SEQUENTIAL_CHAIN_MAX = 65536


def greedy_cooldown_fires(
    cand: DataFrame, cooldown_s: float, small_threshold: int = SEQUENTIAL_CHAIN_MAX
) -> DataFrame:
    """cand: (ts timestamp, _ord, metric_value). Returns the greedy
    cooldown fire rows (ts, metric_value), exactly the sequential chain:
    fire the earliest candidate, suppress anything < cooldown later,
    fire the next survivor, ... Ties on ts fire the lowest _ord.

    Candidate sets at or below ``small_threshold`` run the sequential
    scan in ONE Arrow task — bounded by the constant, never by the data
    (log-depth distributed rounds cost more than a 65k-row scan). Above
    it, the bucketed successor walk resolves the chain with no task ever
    holding the full candidate set.
    """
    from pyspark.sql import Window

    spark = cand.sparkSession
    cdus = int(round(cooldown_s * 1_000_000))
    c = (
        cand.select(F.unix_micros("ts").alias("t"), "ts", "_ord", "metric_value")
        # per distinct ts only the first _ord can ever fire (a same-ts
        # follower is 0 < cooldown after it)
        .groupBy("t")
        .agg(F.min_by(F.struct("ts", "metric_value"), "_ord").alias("b"))
        .select("t", F.col("b.ts").alias("ts"), F.col("b.metric_value").alias("metric_value"))
        .withColumn("_bucket", F.expr(_floor_div_expr("t", cdus)))
    )
    n_cand = c.count()
    if n_cand == 0:
        return c.select("ts", "metric_value")
    if n_cand <= small_threshold:
        import pandas as pd

        def seq_chain(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("t")
            fires = []
            last = None
            for row in pdf.itertuples(index=False):
                if last is None or row.t - last >= cdus:
                    fires.append((row.ts, row.metric_value))
                    last = row.t
            return pd.DataFrame(fires, columns=["ts", "metric_value"])

        return (
            c.select("t", "ts", "metric_value")
            .withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(seq_chain, "ts timestamp, metric_value double")
        )
    c = _ckpt(c)  # referenced 4× by the successor walk
    start = c.agg(F.min("t")).collect()[0][0]

    # bucket-minimum summary + "first bucket strictly past my successor
    # bucket" fallback (output-proportional: one row per fired window max).
    # The global lead-1/lead-2 lookup is TWO-LEVEL: leads resolve within
    # a 4096-bucket super-partition; rows at a partition's tail borrow
    # the first two entries of the REMAINING bucket stream from a
    # per-super-bucket summary (first two rows each), whose own leads
    # are the only globally-ordered window — over buckets/4096 rows.
    B = c.groupBy("_bucket").agg(F.min("t").alias("bmin")).withColumn(
        "_sb", F.expr(_floor_div_expr("_bucket", _ANOMALY_FOLD))
    )
    row = F.struct("_bucket", "bmin")
    wloc = Window.partitionBy("_sb").orderBy("_bucket")
    wsup = Window.orderBy("_sb")
    rn = B.withColumn("_rn", F.row_number().over(wloc))
    # min over a single-candidate conditional struct = "the _rn-th row";
    # nulls are ignored by min, so a 1-row super-bucket gets f2 = null
    sup = rn.groupBy("_sb").agg(
        F.min(F.when(F.col("_rn") == 1, row)).alias("f1"),
        F.min(F.when(F.col("_rn") == 2, row)).alias("f2"),
    )
    sup = sup.select(
        "_sb",
        # first two rows of the stream of buckets AFTER this super-bucket:
        # next super's f1, then next super's f2 — or, when the next super
        # holds a single row, the super after it contributes the second
        F.lead("f1").over(wsup).alias("nxt1"),
        F.coalesce(F.lead("f2").over(wsup), F.lead("f1", 2).over(wsup)).alias("nxt2"),
    )
    lead1 = F.coalesce(F.lead(row, 1).over(wloc), F.col("nxt1"))
    lead2 = F.coalesce(
        F.lead(row, 2).over(wloc),
        F.when(F.lead(row, 1).over(wloc).isNull(), F.col("nxt2")).otherwise(
            F.col("nxt1")
        ),
    )
    fallback = (
        B.join(sup, "_sb")
        .select(
            "_bucket",
            F.when(lead1["_bucket"] > F.col("_bucket") + 1, lead1["bmin"])
            .otherwise(lead2["bmin"])
            .alias("fallback_t"),
        )
    )
    succ = _ckpt(
        _bucket_ceilings(c, cdus)
        .join(c.select("t", "_bucket"), "t")
        .join(fallback, "_bucket", "left")
        .select("t", F.coalesce("nxt_t", "fallback_t").alias("succ_t"))
    )

    # pointer doubling: R holds the first 2^k chain elements after k
    # rounds; J holds succ^(2^k)
    reached = local_df(spark, [(int(start),)], "t long")
    jumps = succ
    n_reached = 1
    while True:
        stepped = (
            reached.join(jumps, "t")
            .select(F.col("succ_t").alias("t"))
            .filter(F.col("t").isNotNull())
        )
        reached = _ckpt(reached.unionByName(stepped).distinct())
        n = reached.count()
        if n == n_reached:
            break
        n_reached = n
        jumps = _ckpt(
            jumps.alias("a")
            .join(jumps.alias("b"), F.col("a.succ_t") == F.col("b.t"), "left")
            .select(F.col("a.t").alias("t"), F.col("b.succ_t").alias("succ_t"))
        )
    return c.join(reached, "t").select("ts", "metric_value")
