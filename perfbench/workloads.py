"""The benchmark workloads. Each is a closed loop with one caller.

A workload generates its inputs (``gen``), warms up, then runs timed ops in
a fixed number of whole passes, as many as fill the requested seconds at the
workload's nominal pass time (``passes``). The count depends on the seconds
only, not on how fast this run happens to go, so every run measures the same
work at the same point of the JVM's warm-up. An op is a micro-batch
(``stream_replay``), or one lane build plus noop execution or one ``jobs
daily`` call (``batch_mix``). ``check`` marks ops whose outputs are wrong,
and ``layers`` turns a traced measurement into per-layer numbers.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

import checks
import gen
from tracing import Rest, Spans, covered, cpu_s, median, plan_flags

STREAM_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
# reference_pipeline's defaults, restated for the oracle and the batch replay
WATERMARK_S, WINDOW_S, SLIDE_S = 30, 60, 30
MIX_LANES = (
    "substring_run_pairs", "source_overlap_matrix", "user_rfm_segments", "user_ltv_deciles",
    "ann_recall_report", "embedding_covariance", "neardup_pagerank", "order_line_rollup",
    "bm25_topk", "lm_score_bucket_mix",
)
LANE_TABLES = {
    "substring_run_pairs": ("documents",), "source_overlap_matrix": ("documents",),
    "user_rfm_segments": ("events",), "user_ltv_deciles": ("events",),
    "ann_recall_report": ("embeddings",), "embedding_covariance": ("embeddings",),
    "neardup_pagerank": ("documents",), "order_line_rollup": ("orders", "lineitem"),
    "bm25_topk": ("documents",), "lm_score_bucket_mix": ("documents",),
}
DAILY_OP = "jobs_daily"
BATCH_OPS = MIX_LANES + (DAILY_OP,)


@dataclass
class Op:
    latency_s: float
    ok: bool = True
    key: str = ""  # what ``check`` uses to find this op's output
    group: str = ""  # Spark job group (traced runs)
    rows: int = 0
    span: int = -1  # its span id (traced runs)


@dataclass
class Measurement:
    ops: list[Op] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)  # wall of each full pass
    cpu: list[float] = field(default_factory=list)  # CPU seconds of each full pass
    jit: list[float] = field(default_factory=list)  # of which in JIT compiler threads
    rows: int = 0
    raw: dict = field(default_factory=dict)

    @property
    def rows_per_s(self) -> float:
        wall = sum(self.passes)
        return self.rows / wall if wall > 0 else 0.0

    def add_cpu(self, before: tuple[float, float], after: tuple[float, float]) -> None:
        self.cpu.append(after[0] - before[0])
        self.jit.append(after[1] - before[1])

    @property
    def cpu_ms_per_op(self) -> float:
        """CPU time of this process, the driver JVM and every process below
        them, per op, leaving out the JVM's JIT compiler threads: compiling is
        a warm-up cost whose timing varies from run to run."""
        return (sum(self.cpu) - sum(self.jit)) * 1e3 / len(self.ops) if self.ops else 0.0

    @property
    def jit_ms_per_op(self) -> float:
        return sum(self.jit) * 1e3 / len(self.ops) if self.ops else 0.0


class Workload:
    name = ""
    PASS_S = 10.0  # nominal wall of one timed pass on a busy 4-vCPU host

    def passes(self, seconds: float) -> int:
        """Whole passes that fit in ``seconds`` at the nominal pass time."""
        return max(1, int(seconds // self.PASS_S))

    def __init__(self, spark, seed: int, run_dir: str, smoke: bool):
        self.spark, self.seed, self.run_dir, self.smoke = spark, seed, run_dir, smoke
        self.data = os.path.join(run_dir, "data")
        self.notes: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def rebind(self, spark) -> None:
        """Point the workload at a new session (the local[1] pass)."""
        self.spark = spark
        self.prepare()

    def prepare(self) -> None:
        pass

    def groups(self, m: Measurement) -> set[str]:
        """Spark job groups of a traced measurement's ops."""
        raise NotImplementedError

    def job_group(self, spans: Spans, name: str) -> str:
        """Tag the Spark jobs of the next op (traced runs only)."""
        if spans.enabled:
            self.spark.sparkContext.setJobGroup(name, name)
        return name


# ---------------------------------------------------------------------------


class StreamReplay(Workload):
    """``streaming.reference_pipeline`` over time-ordered parquet files, one
    file per micro-batch (availableNow, maxFilesPerTrigger=1)."""

    name = "stream_replay"
    WARM_FILES = 8
    PASS_S = 14.0

    def __init__(self, *a):
        super().__init__(*a)
        self.spec = gen.StreamSpec(n_files=4, file_span_s=30) if self.smoke else gen.StreamSpec()
        self.in_dir = os.path.join(self.data, "in")
        self.warm_dir = os.path.join(self.data, "warm_in")
        self.customer = os.path.join(self.data, "customer.parquet")
        self.n_pass = 0

    def generate(self, data: str | None = None) -> None:
        data = data or self.data
        gen.stream_files(self.seed, os.path.join(data, "in"), self.spec)
        gen.write_table(gen.customer_table(self.seed, self.spec.n_customers), os.path.join(data, "customer.parquet"))
        # the warm-up replays files of another seed
        warm = dataclasses.replace(self.spec, n_files=min(self.WARM_FILES, self.spec.n_files))
        gen.stream_files(self.seed + 1_000_003, os.path.join(data, "warm_in"), warm)

    def prepare(self) -> None:
        self.dim = self.spark.read.parquet(self.customer)

    def _pass(self, in_dir: str, spans: Spans, parent: int | None) -> tuple[list[Op], dict]:
        from kafkastreamingetl_spark.streaming import reference_pipeline, run_available_now

        self.n_pass += 1
        tag = f"p{self.n_pass}"
        lake, ck = self.path("lake", tag), self.path("ck", tag)
        src = self.spark.readStream.schema(STREAM_SCHEMA).option("maxFilesPerTrigger", 1).parquet(in_dir)
        t0 = time.time()
        queries = reference_pipeline(src, self.dim, lake_path=lake, checkpoint_dir=ck, available_now=True)
        try:
            run_available_now(queries, timeout_sec=150)
            failed = False
        except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
            self.notes.append(f"stream pass {tag} failed: {type(e).__name__}: {e}"[:300])
            failed = True
        t1 = time.time()
        q = queries[0]
        progress = [json.loads(p.json) for p in q.recentProgress]
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        last = progress[-1] if progress else None
        end = _iso(last["timestamp"]) + last["durationMs"].get("triggerExecution", 0) / 1e3 if last else t1
        ops = [
            Op(p["durationMs"]["triggerExecution"] / 1e3, not failed, key=tag, group=str(q.runId),
               rows=p["numInputRows"])
            for p in data
        ] or [Op(t1 - t0, False, key=tag)]
        if spans.enabled:
            pid = spans.add("pass", t0, end, parent, run_id=str(q.runId))
            for p in progress:
                b0 = _iso(p["timestamp"])
                d = p["durationMs"]
                bid = spans.add("micro_batch", b0, b0 + d.get("triggerExecution", 0) / 1e3, pid,
                                batch_id=p["batchId"], rows=p.get("numInputRows", 0))
                t = b0  # progress gives durations only: laid end to end in execution order
                for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
                    if k in d:
                        spans.add(f"streaming.{k}", t, t + d[k] / 1e3, bid)
                        t += d[k] / 1e3
        return ops, {"t0": t0, "end": end, "progress": progress, "lake": lake, "run_id": str(q.runId)}

    def warm(self) -> None:
        self._pass(self.warm_dir, Spans(False), None)

    def groups(self, m: Measurement) -> set[str]:
        return {o.group for o in m.ops}

    def measure(self, n_pass: int, spans: Spans) -> Measurement:
        m = Measurement(raw={"passes": []})
        for _ in range(n_pass):
            c0 = cpu_s(os.getpid())
            ops, info = self._pass(self.in_dir, spans, None)
            m.add_cpu(c0, cpu_s(os.getpid()))
            m.ops += ops
            m.raw["passes"].append(info)
            m.passes.append(info["end"] - info["t0"])
            m.rows += sum(o.rows for o in ops)
        return m

    def check(self, m: Measurement) -> None:
        expected = checks.stream_expected(self.in_dir, self.customer, WATERMARK_S, WINDOW_S, SLIDE_S)
        for info in m.raw["passes"]:
            notes = checks.compare_windows(checks.read_lake(info["lake"]), expected)
            if notes:
                self.notes.append(f"stream lake {info['lake']}: " + "; ".join(notes))
                for o in m.ops:
                    if o.key == os.path.basename(info["lake"]):
                        o.ok = False

    def layers(self, m: Measurement, rest: Rest, spans: Spans) -> dict[str, float]:
        batches = [p for info in m.raw["passes"] for p in info["progress"] if p.get("numInputRows", 0) > 0]
        out: dict[str, float] = {}
        for key, name in (("latestOffset", "latest_offset"), ("queryPlanning", "query_planning"),
                          ("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit_offsets")):
            out[f"streaming.{name}_ms_p50"] = median([p["durationMs"].get(key, 0) for p in batches])
        out["streaming.loop_overhead_s"] = median([
            (info["end"] - info["t0"]) - sum(p["durationMs"].get("triggerExecution", 0) for p in info["progress"]) / 1e3
            for info in m.raw["passes"]
        ])
        ops_by = {"dedupeWithinWatermark": "operators.cleaning", "stateStoreSave": "operators.windows"}
        for op_name, layer in ops_by.items():
            st = [s for info in m.raw["passes"] for p in info["progress"] for s in p.get("stateOperators", [])
                  if s.get("operatorName") == op_name]
            out[f"{layer}.state_rows"] = float(max((s.get("numRowsTotal", 0) for s in st), default=0))
            out[f"{layer}.state_bytes"] = float(max((s.get("memoryUsedBytes", 0) for s in st), default=0))
        out["operators.cleaning.late_rows_dropped"] = median([
            sum(s.get("numRowsDroppedByWatermark", 0) for p in info["progress"] for s in p.get("stateOperators", [])
                if s.get("operatorName") == "dedupeWithinWatermark")
            for info in m.raw["passes"]
        ])
        per_batch = [p.get("stateOperators", []) for p in batches]
        out["streaming.state_commit_ms_p50"] = median([sum(s.get("commitTimeMs", 0) for s in so) for so in per_batch])
        out["streaming.state_update_ms_p50"] = median([sum(s.get("allUpdatesTimeMs", 0) for s in so)
                                                       for so in per_batch])
        files, nbytes = _tree_files(m.raw["passes"][-1]["lake"], ".parquet")
        out["streaming.sink_files"] = float(len(files))
        out["streaming.sink_bytes"] = float(nbytes)
        out["streaming.out_rows"] = float(len(checks.read_lake(m.raw["passes"][-1]["lake"])))
        out.update(self.self_times())
        return out

    def self_times(self, reps: int = 3) -> dict[str, float]:
        """Operator self time from a batch replay of the same files: each
        prefix of the pipeline run with the noop action, then differenced."""
        from pyspark.sql import functions as F

        from kafkastreamingetl_spark.functions import normalize_string
        from kafkastreamingetl_spark.operators.cleaning import dedup_by_key
        from kafkastreamingetl_spark.operators.windows import windowed_agg

        src = self.spark.read.schema(STREAM_SCHEMA).parquet(self.in_dir)
        dim = self.dim.select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment"))
        # clean_events_streaming's steps; its dropDuplicatesWithinWatermark
        # has no batch form, so the batch key dedup stands in for it
        cleaned = dedup_by_key(
            src.withColumn("event_type_norm", normalize_string("event_type")).na.fill({"value": 0.0}), ["event_id"]
        )
        enriched = cleaned.join(dim, "user_id", "left")
        agg = windowed_agg(enriched, window="1 minute", slide="30 seconds",
                           keys=["event_type_norm", "segment"], approx_distinct=True)
        prefixes = [("sources", src), ("operators.cleaning", cleaned), ("operators.enrichment", enriched),
                    ("operators.windows", agg)]
        times = []
        for _, df in prefixes:
            times.append(median([_timed(lambda: df.write.format("noop").mode("overwrite").save())
                                 for _ in range(reps)]))
        out_dir = self.path("replay_sink")
        times.append(median([_timed(lambda: agg.write.mode("overwrite").partitionBy("segment").parquet(out_dir))
                             for _ in range(reps)]))
        names = [f"{n}.self_s" for n, _ in prefixes] + ["streaming.sink_self_s"]
        return {n: times[i] - (times[i - 1] if i else 0.0) for i, n in enumerate(names)}

    def provenance(self) -> dict:
        return {"files": self.spec.n_files, "rows_per_file": int(self.spec.rate * self.spec.file_span_s)}


# ---------------------------------------------------------------------------


class BatchMix(Workload):
    """The batch side: ten registered read-only lanes, each built and forced
    with the noop action, plus one ``jobs.main(["daily", ...])`` call (the
    batch write path), in a seed-shuffled order per pass."""

    name = "batch_mix"
    WARM_JOBS = 3

    def __init__(self, *a):
        super().__init__(*a)
        if self.smoke:
            self.mix_spec, self.daily_spec = gen.MixSpec(sf=0.001, n_embeddings=100), gen.DailySpec(n_days=8,
                                                                                                  events_per_day=300)
        else:
            self.mix_spec, self.daily_spec = gen.MixSpec(), gen.DailySpec()
        self.mix_dir = os.path.join(self.data, "mix")
        self.daily_dir = os.path.join(self.data, "daily")
        self.n_pass = 0
        self.bad_lanes: set[str] = set()
        self.lane_times: dict[str, tuple[float, float, float]] = {}

    def generate(self, data: str | None = None) -> None:
        import pyarrow.parquet as pq

        data = data or self.data
        gen.mix_tables(self.seed, os.path.join(data, "mix"), self.mix_spec)
        self.dates, self.day_rows = gen.daily_tables(self.seed, os.path.join(data, "daily"), self.daily_spec)
        self.table_rows = {
            t: pq.ParquetFile(os.path.join(data, "mix", f"{t}.parquet")).metadata.num_rows
            for t in {t for ts in LANE_TABLES.values() for t in ts}
        }

    def warm(self) -> None:
        """The lanes' warm pass is the oracle comparison: every lane runs once
        and is compared with its DuckDB twin (``oracle.run_compare``)."""
        from kafkastreamingetl_spark.oracle import run_compare

        for r in run_compare(self.spark, self.mix_dir, list(MIX_LANES)):
            if not r.ok:
                self.bad_lanes.add(r.name)
                self.notes.append(f"oracle: {r}"[:300])
        for d in self.dates[-self.WARM_JOBS:]:
            self._daily(d, self.path("warm_lake"), Spans(False), None, "warm")

    def _lane(self, lane: str, spans: Spans, parent, tag: str) -> Op:
        from kafkastreamingetl_spark.queries import QUERIES

        group = f"{lane}-{tag}"
        rows = sum(self.table_rows[t] for t in LANE_TABLES[lane])
        t0 = time.time()
        try:
            if not spans.enabled:
                QUERIES[lane](self.spark, self.mix_dir).write.format("noop").mode("overwrite").save()
                return Op(time.time() - t0, key=lane, rows=rows)
            self.job_group(spans, f"{group}:build")
            df = QUERIES[lane](self.spark, self.mix_dir)
            t1 = time.time()
            self.job_group(spans, f"{group}:plan")
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            self.job_group(spans, f"{group}:exec")
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
        except Exception as e:  # noqa: BLE001 - a failed lane is counted, not fatal
            self.notes.append(f"{lane} failed: {type(e).__name__}: {e}"[:300])
            return Op(time.time() - t0, False, key=lane, rows=rows)
        self.lane_times[group] = (t1 - t0, t2 - t1, t3 - t2)
        oid = spans.add("lane", t0, t3, parent, lane=lane, group=group)
        spans.add("build", t0, t1, oid)
        spans.add("plan", t1, t2, oid)
        spans.add("execute", t2, t3, oid)
        return Op(t3 - t0, key=lane, group=group, rows=rows)

    def _daily(self, date: str, lake: str, spans: Spans, parent, tag: str) -> Op:
        from kafkastreamingetl_spark import jobs

        group = self.job_group(spans, f"{DAILY_OP}-{tag}-{date}")
        buf = io.StringIO()
        t0 = time.time()
        with contextlib.redirect_stdout(buf):
            rc = jobs.main(["daily", "--sf-dir", self.daily_dir, "--run-date", date, "--out", lake])
        t1 = time.time()
        sid = spans.add(DAILY_OP, t0, t1, parent, run_date=date, group=group)
        ok = rc == 0 and json.loads(buf.getvalue().strip().splitlines()[-1])["rows"] > 0
        return Op(t1 - t0, ok, key=date, group=group, rows=self.day_rows[date], span=sid)

    def measure(self, n_pass: int, spans: Spans) -> Measurement:
        lake = self.path("lake")
        m = Measurement(raw={"lake": lake, "dates": []})
        for _ in range(n_pass):
            self.n_pass += 1
            tag = f"p{self.n_pass}"
            date = self.dates[(self.n_pass - 1) % len(self.dates)]
            order = np.random.default_rng([self.seed, self.n_pass]).permutation(len(BATCH_OPS))
            c0, t0 = cpu_s(os.getpid()), time.perf_counter()
            pid = spans.add("pass", time.time(), 0.0, None, order=[BATCH_OPS[i] for i in order])
            for i in order:
                if BATCH_OPS[i] == DAILY_OP:
                    op = self._daily(date, lake, spans, pid, tag)
                    m.raw["dates"].append(date)
                else:
                    op = self._lane(BATCH_OPS[i], spans, pid, tag)
                m.ops.append(op)
                m.rows += op.rows
            m.passes.append(time.perf_counter() - t0)
            m.add_cpu(c0, cpu_s(os.getpid()))
            spans.set_end(pid, time.time())
        return m

    def check(self, m: Measurement) -> None:
        from kafkastreamingetl_spark.oracle import compare_frames
        from kafkastreamingetl_spark.queries import ORACLE_SQL

        notes = checks.daily_compare(self.daily_dir, m.raw["lake"], sorted(set(m.raw["dates"])),
                                     ORACLE_SQL["daily_segment_metrics"], compare_frames)
        bad = {d: n for d, n in notes.items() if n}
        if bad:
            self.notes.append(f"daily partitions wrong: {json.dumps(bad)[:400]}")
        for op in m.ops:
            if op.key in self.bad_lanes or op.key in bad:
                op.ok = False

    def layers(self, m: Measurement, rest: Rest, spans: Spans) -> dict[str, float]:
        lanes = [o for o in m.ops if o.key in MIX_LANES]
        daily = [o for o in m.ops if o.key not in MIX_LANES]
        out = dict.fromkeys(("queries.python_eval_nodes", "queries.checkpoint_barriers",
                             "queries.codegen_fallbacks"), 0.0)
        per_lane: dict[str, dict[str, list[float]]] = {}
        flags_seen = set()
        for o in lanes:
            d = per_lane.setdefault(o.key, {"construct_s": [], "plan_s": [], "exec_s": []})
            for k, v in zip(("construct_s", "plan_s", "exec_s"), self.lane_times[o.group]):
                d[k].append(v)
            if o.key not in flags_seen:  # plan flags once per lane
                flags_seen.add(o.key)
                for plan in rest.plans({f"{o.group}:exec"}):
                    for k, v in plan_flags(plan).items():
                        out[f"queries.{k}"] += v
        for lane in MIX_LANES:
            for k in ("construct_s", "plan_s", "exec_s"):
                out[f"{lane}.{k}"] = median(per_lane.get(lane, {}).get(k, []))
        for k in ("construct_s", "plan_s", "exec_s"):
            out[f"queries.{k}"] = sum(out[f"{lane}.{k}"] for lane in MIX_LANES)
        build_jobs = rest.jobs({f"{o.group}:build" for o in lanes})
        out["queries.construct_jobs"] = len(build_jobs) / max(len(m.passes), 1)

        groups = {o.group for o in daily}
        ivs = rest.job_intervals(groups)
        execs = [covered(ivs.get(o.group, []), 0.0, float("inf")) for o in daily]
        for o in daily:  # a daily run's layer spans are its Spark jobs
            for a, b in ivs.get(o.group, []):
                spans.add("spark.job", a, b, o.span)
        dates = set(m.raw["dates"])
        files = [f for d in dates for f in _tree_files(os.path.join(m.raw["lake"], f"event_date={d}"), ".parquet")[0]]
        out.update({
            "operators.rollup.driver_s_p50": median([o.latency_s - e for o, e in zip(daily, execs)]),
            "operators.rollup.exec_s_p50": median(execs),
            "operators.rollup.spark_jobs_per_run": len(rest.jobs(groups)) / max(len(daily), 1),
            "operators.rollup.files_per_run": len(files) / max(len(dates), 1),
        })
        return out

    def groups(self, m: Measurement) -> set[str]:
        return {f"{o.group}:{k}" for o in m.ops if o.key in MIX_LANES for k in ("build", "plan", "exec")} | {
            o.group for o in m.ops if o.key not in MIX_LANES}

    def provenance(self) -> dict:
        return {"sf": self.mix_spec.sf, "ops": list(BATCH_OPS), "days": self.daily_spec.n_days,
                "events_per_day": self.daily_spec.events_per_day}


WORKLOADS = {w.name: w for w in (StreamReplay, BatchMix)}


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _tree_files(root: str, suffix: str) -> tuple[list[str], int]:
    found, nbytes = [], 0
    for d, _, names in os.walk(root):
        if "_spark_metadata" in d:
            continue
        for n in names:
            if n.endswith(suffix):
                found.append(os.path.join(d, n))
                nbytes += os.path.getsize(os.path.join(d, n))
    return found, nbytes
