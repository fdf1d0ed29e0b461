"""Alert rules: HQL saved searches evaluated continuously over a stream.

The reference exists so users can "maintain, visualize and alert on
Falcon Event Stream data" in Humio (reference README.md:5-8). This module
closes the ALERT third: a rule is a named HQL query plus a trigger
condition; `run_alert_rules` evaluates every rule against each micro-batch
(foreachBatch) and appends firing alerts to a sink the caller provides.

Design notes:
- Rules are compiled per batch in BATCH mode — any HQL construct works
  (aggregations, match lookups, sessionize), no streaming-mode operator
  restrictions, and the trigger condition sees the batch's result rows.
- ONE Spark job per micro-batch regardless of rule count: every rule's
  query is reduced to a single bounded aggregate row (count of rows over
  threshold + worst value), all rule rows are UNIONed into one plan, and
  one collect() evaluates them together. A 100-saved-search deployment
  costs one driver-coordinated job per trigger, not 100+ — job-launch
  latency never grows with the rule set (pinned by
  tests/test_alerts.py::test_rule_evaluation_is_one_job_per_batch).
  The batch DataFrame is persisted once, so the union's N branches read
  the cached batch, not N source scans.
- Alert delivery is at-least-once (micro-batch replay on failure —
  exactly the reference's retry semantics, SURVEY §1.4); sinks that need
  exactly-once should dedup on (rule, batch_id), which is in the record.
- Emitted record keys: ``batch_id``, ``rule``, ``observed`` (worst value
  for value-column rules, matching-row count otherwise), ``threshold``
  (None for row-count rules — lets auditing sinks detect rule-config
  changes), ``query``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class AlertRule:
    """A saved search with a trigger: fires when the compiled query
    returns at least ``min_rows`` rows (Humio's standard alert condition
    — "the search produced results"); if ``value_column`` is set, fires
    when ANY result row's value meets ``threshold`` instead."""

    name: str
    query: str
    min_rows: int = 1
    value_column: str | None = None
    threshold: float | None = None
    #: Humio's alert throttling: after firing, suppress re-fires of this
    #: rule for the next ``throttle_batches`` micro-batches. Suppression
    #: state is PERSISTED next to the checkpoint (_alert_throttle.json,
    #: written atomically AFTER delivery), so a restart honors an open
    #: suppression window instead of re-firing throttled rules. The
    #: crash-between-delivery-and-state-write window re-fires on replay —
    #: the engine's at-least-once contract; dedup on (rule, batch_id).
    throttle_batches: int = 0

    def __post_init__(self) -> None:
        # a value-column rule without a threshold would compare against
        # NULL and silently never fire — the worst failure mode for an
        # alerting system, so it is a configuration error instead
        if (self.value_column is None) != (self.threshold is None):
            raise ValueError(
                f"rule {self.name!r}: value_column and threshold must be "
                "set together"
            )
        if self.throttle_batches < 0:
            raise ValueError(
                f"rule {self.name!r}: throttle_batches must be >= 0"
            )


def load_alert_rules(path: str) -> list[AlertRule]:
    """Rules-as-config: read a JSON file holding a list of AlertRule
    field dicts (name/query required; min_rows, value_column, threshold,
    throttle_batches optional). Unknown keys are a LOUD error — a typo'd
    'treshold' must not silently produce a never-firing rule."""
    import json

    with open(path, encoding="utf-8") as f:
        raw = json.load(f)
    if not isinstance(raw, list):
        raise ValueError(f"{path}: expected a JSON list of rule objects")
    allowed = {
        "name", "query", "min_rows", "value_column", "threshold",
        "throttle_batches",
    }
    rules = []
    for i, obj in enumerate(raw):
        if not isinstance(obj, dict):
            raise ValueError(f"{path}[{i}]: expected an object")
        unknown = set(obj) - allowed
        if unknown:
            raise ValueError(
                f"{path}[{i}]: unknown rule key(s) {sorted(unknown)} "
                f"(allowed: {sorted(allowed)})"
            )
        for req in ("name", "query"):
            if req not in obj:
                raise ValueError(f"{path}[{i}]: missing required {req!r}")
        rules.append(AlertRule(**obj))
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(
            f"{path}: duplicate rule names (dedup keys collide): {names}"
        )
    return rules


def evaluate_rules_on_batch(
    batch_df: DataFrame,
    rules: list[AlertRule],
    batch_id: int,
    tables: dict[str, DataFrame] | None = None,
) -> list[dict]:
    """Evaluate every rule against one (batch) DataFrame with a SINGLE
    Spark action; returns the firing alert records. Pure batch logic —
    reused by tests and by the foreachBatch wrapper.

    Each rule's HQL result is collapsed to one bounded aggregate row
    (never the offending rows themselves — the alert record must stay
    rule-bounded, not data-bounded); the per-rule rows are unioned into
    one plan and collected together, so N rules cost one job of N
    parallel aggregate branches instead of N sequential jobs."""
    from cses2humio_spark.hql import hql

    if not rules:
        return []
    per_rule: list[DataFrame] = []
    for i, rule in enumerate(rules):
        res = hql(batch_df, rule.query, tables=tables)
        if rule.value_column is not None:
            agg = res.filter(
                res[rule.value_column] >= rule.threshold
            ).agg(
                F.count(F.lit(1)).alias("__n"),
                F.max(F.col(rule.value_column).cast("double")).alias(
                    "__worst"
                ),
            )
        else:
            agg = res.agg(
                F.count(F.lit(1)).alias("__n"),
                F.lit(None).cast("double").alias("__worst"),
            )
        per_rule.append(
            agg.select(F.lit(i).alias("__rule_idx"), "__n", "__worst")
        )
    fused = per_rule[0]
    for branch in per_rule[1:]:
        fused = fused.unionByName(branch)
    rows = fused.collect()  # ONE action for the whole rule set

    alerts: list[dict] = []
    for row in sorted(rows, key=lambda r: r["__rule_idx"]):
        rule = rules[row["__rule_idx"]]
        if rule.value_column is not None:
            fired = row["__n"] >= max(rule.min_rows, 1)
            obs = float(row["__worst"]) if row["__worst"] is not None else 0.0
            observed = int(obs) if obs.is_integer() else obs
        else:
            observed = row["__n"]
            fired = observed >= rule.min_rows
        if fired:
            alerts.append(
                {
                    "batch_id": int(batch_id),
                    "rule": rule.name,
                    "observed": observed,
                    "threshold": rule.threshold,
                    "query": rule.query,
                }
            )
    return alerts


class ThrottleState:
    """Per-rule suppression window (rule -> last-fired batch id),
    persisted next to the streaming checkpoint so a RESTART honors an
    open window instead of re-firing every throttled rule. One tiny JSON
    file (O(rules) bytes), rewritten atomically (tmp + os.replace) only
    on batches that fired; loaded once at query start. Written AFTER
    delivery: a crash between delivery and the write replays the batch
    and re-fires — at-least-once, never a lost alert."""

    def __init__(self, checkpoint_dir: str):
        import os

        os.makedirs(checkpoint_dir, exist_ok=True)
        self._path = os.path.join(checkpoint_dir, "_alert_throttle.json")
        self.last_fired: dict[str, int] = {}
        try:
            import json

            with open(self._path, encoding="utf-8") as f:
                self.last_fired = {
                    str(k): int(v) for k, v in json.load(f).items()
                }
        except FileNotFoundError:
            pass

    def record(self, fired_rules: list[str], batch_id: int) -> None:
        import json
        import os

        for name in fired_rules:
            self.last_fired[name] = int(batch_id)
        tmp = self._path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(self.last_fired, f)
        os.replace(tmp, self._path)

    def suppressed(self, rule: AlertRule, batch_id: int) -> bool:
        last = self.last_fired.get(rule.name)
        return last is not None and batch_id <= last + rule.throttle_batches


def run_alert_rules(
    stream_df: DataFrame,
    rules: list[AlertRule],
    on_alerts: Callable[[list[dict]], None],
    checkpoint_dir: str,
    tables: dict[str, DataFrame] | None = None,
    trigger_available_now: bool = False,
):
    """Attach the rule set to a streaming DataFrame. Each micro-batch is
    persisted once, every rule's HQL is evaluated in one fused job, and
    firing alerts are handed to ``on_alerts`` executor-free (driver-side
    callback — alert volume is rule-bounded, not data-bounded). Returns
    the started StreamingQuery."""
    return _start_alert_stream(
        stream_df, lambda: rules, on_alerts, checkpoint_dir, tables,
        trigger_available_now,
    )


def _start_alert_stream(
    stream_df: DataFrame,
    rule_source: Callable[[], list[AlertRule]],
    on_alerts: Callable[[list[dict]], None],
    checkpoint_dir: str,
    tables: dict[str, DataFrame] | None,
    trigger_available_now: bool,
):
    """The one alert stream body: at each micro-batch, ask ``rule_source``
    for the rule set, drop throttled rules, evaluate the rest on the
    persisted batch, deliver, and record what fired."""
    throttle = ThrottleState(checkpoint_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # throttling (Humio's suppression window): a rule that fired
        # within the last throttle_batches batches is EXCLUDED from the
        # fused plan entirely — suppression saves its aggregate branch,
        # not just the delivery
        active = [
            r for r in rule_source() if not throttle.suppressed(r, batch_id)
        ]
        if not active:
            return
        batch_df.persist()
        try:
            alerts = evaluate_rules_on_batch(
                batch_df, active, batch_id, tables=tables
            )
            if alerts:
                on_alerts(alerts)
                throttle.record([a["rule"] for a in alerts], batch_id)
        finally:
            batch_df.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_alert_rules_from_file(
    stream_df: DataFrame,
    rules_path: str,
    on_alerts: Callable[[list[dict]], None],
    checkpoint_dir: str,
    tables: dict[str, DataFrame] | None = None,
    trigger_available_now: bool = False,
):
    """Rules-as-config with HOT RELOAD: the JSON rule file is re-read at
    the start of any micro-batch whose mtime changed — edit a saved
    search and the next batch evaluates the new set, no stream restart.
    A BROKEN edit (syntax error, typo'd key, duplicate name) keeps the
    LAST KNOWN-GOOD rule set running — persisted next to the checkpoint
    (``_alert_rules_last_good.json``) so even a RESTART under a broken
    file resumes the previous rules — and logs one loud warning per bad
    version: an alerting pipeline must never die, or go silent, because
    of a config typo. A broken file with NO known-good snapshot refuses
    to start. Throttle state is shared across reloads (keyed by rule
    name next to the checkpoint, as in run_alert_rules)."""
    import logging
    import os
    import shutil

    os.makedirs(checkpoint_dir, exist_ok=True)
    last_good = os.path.join(checkpoint_dir, "_alert_rules_last_good.json")
    state = {
        "mtime": None,
        "rules": [],
        "warned_mtime": None,
    }

    def _load() -> None:
        try:
            mtime = os.stat(rules_path).st_mtime_ns
        except OSError as exc:
            if state["warned_mtime"] != -1:
                logging.getLogger(__name__).warning(
                    "alert rules file %s unreadable (%s) — keeping the "
                    "previous %d rule(s)",
                    rules_path, exc, len(state["rules"]),
                )
                state["warned_mtime"] = -1
            return
        if mtime == state["mtime"]:
            return
        try:
            state["rules"] = load_alert_rules(rules_path)
            state["mtime"] = mtime
            state["warned_mtime"] = None
            tmp = last_good + ".tmp"
            shutil.copyfile(rules_path, tmp)
            os.replace(tmp, last_good)
            logging.getLogger(__name__).info(
                "alert rules reloaded: %d rule(s) from %s",
                len(state["rules"]), rules_path,
            )
        except (ValueError, OSError) as exc:
            if state["warned_mtime"] != mtime:
                logging.getLogger(__name__).warning(
                    "alert rules file %s rejected (%s) — keeping the "
                    "previous %d rule(s)",
                    rules_path, exc, len(state["rules"]),
                )
                state["warned_mtime"] = mtime

    _load()
    if not state["rules"] and state["mtime"] is None:
        # broken INITIAL file: fall back to the checkpoint's last
        # known-good snapshot (restart-under-broken-edit), else refuse
        if os.path.exists(last_good):
            state["rules"] = load_alert_rules(last_good)
            logging.getLogger(__name__).warning(
                "alert rules file %s broken at startup — resuming the "
                "checkpoint's last known-good set (%d rule(s))",
                rules_path, len(state["rules"]),
            )
        else:
            raise ValueError(
                f"{rules_path}: initial rule load failed and no "
                "known-good snapshot exists — refusing to start an "
                "alert stream with zero rules"
            )

    def _rules() -> list[AlertRule]:
        _load()
        return state["rules"]

    return _start_alert_stream(
        stream_df, _rules, on_alerts, checkpoint_dir, tables,
        trigger_available_now,
    )
