"""The workloads: set-up, warm-up, the measured window and the traced run.

Two kinds of operation, sent by one closed-loop client that sends the next
operation only when the last one has finished:

- a write step: ``job.run`` over the workload's input, then
  ``retention.expire`` (keep the newest two days of the 1m tier) and
  ``retention.compact`` of the newest day's 1m partition, then one
  read-after-write ``query_range`` on that partition;
- a query: one of five serving calls (narrow 1m range, wide 1h range, LOCF
  fill, linear fill, decoded points), parameters drawn from the seed.

Per workload:

- ingest_bulk: write steps over one flat skewed table, each into a fresh
  output root, each followed by narrow 1m read-backs of the new output;
- daily_increments: each write step lands one new ``date=`` partition and
  resumes the job on the same manifest; a mix of every query kind follows.

Correctness checks (see checks.py) run between operations, never inside a
timed section, in a child process of their own.

Every window starts from the same state: for daily_increments the output
root and landing zone as the first warm-up left them, restored before each
new window; for both workloads the query planner's seed. A traced run
repeats the untraced window's steps and queries in a new session, so the
two compare like with like.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from addax_spark import retention, serving
from addax_spark.job import RollupJobSpec, run as run_job
from addax_spark.manifest import Manifest
from addax_spark.operators.bucketize import TIER_ORDER
from addax_spark.operators.gapfill import gapfill
from addax_spark.operators.gorilla import decode_many, encode, encode_chunks, encode_many
from addax_spark.operators.rollup import rollup_cascade_step, rollup_from_raw
from addax_spark.session import get_spark

import checks
import inputs
from procs import steal_seconds
from spans import Tracer, fold_event_log

#: input shapes (synth.transcripts arguments) per workload
SHAPES = {
    "ingest_bulk": {"n_convs": 600, "avg_turns": 30},
    "daily_increments": {"n_days": 5, "n_convs": 300, "avg_turns": 15},
}
#: ingest_bulk warms up on a small table of the same shape
WARM_SHAPE = {"n_convs": 100, "avg_turns": 20}
#: traced-run probe input: few long conversations, turns 8x denser in time,
#: so day-chunks hold thousands of points (the large-chunk encode regime)
DENSE_SHAPE = {"n_convs": 8, "avg_turns": 6000, "squeeze": 8}
SETUP_ROUNDS = 3
RETAIN_1M_DAYS = 2
MIN_STEPS = 2
#: queries after each of the first MIN_STEPS write steps: ingest_bulk reads
#: back narrow 1m ranges only, so a serving-side change should not move it;
#: daily_increments sends this mix in shuffled order. Gap-fill and decode
#: take about twice as long as a plain range, so they are the majority: the
#: median and the tail then fall inside one group of latencies, not on the
#: gap between two.
READ_BACKS = 10
QUERY_MIX = {"range_1m": 1, "range_1h_wide": 1, "fill_locf": 3, "fill_linear": 3, "points": 3}
#: check one burst query in this many against DuckDB (read-after-write: all)
CHECK_EVERY = 4
QUERY_KINDS = ["range_1m", "range_1h_wide", "fill_locf", "fill_linear", "points"]
SPAN_NAMES = [
    "job.run", "retention.compact", "serving.query_range", "serving.read_points",
    "probe.rollup.cascade", "probe.gorilla.encode_chunks", "probe.gorilla.encode_chunks_large",
    "probe.gapfill",
]
SPAN_METRICS = [
    "executor_cpu_s", "executor_run_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_skew",
]


def _ts(d: dt.datetime) -> str:
    return d.strftime("%Y-%m-%d %H:%M:%S")


def _us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def median(xs: list[float]) -> float:
    """Median, or 0 when no operation of the kind succeeded (the run is
    then marked incorrect)."""
    return float(statistics.median(xs)) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it: the 11th-highest sample when there are at least 20,
    else the maximum."""
    n = len(samples)
    if n < 20:
        return float(max(samples, default=0.0)), 100.0
    return float(sorted(samples)[n - 11]), 100.0 * (n - 10) / n


def tree_bytes_and_files(root: str) -> tuple[int, list[int]]:
    """Total bytes under ``root`` and the parquet file count of every
    ``date=`` directory."""
    total, per_dir = 0, []
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        if os.path.basename(d).startswith("date="):
            per_dir.append(sum(f.endswith(".parquet") for f in files))
    return total, per_dir


def n_parquet(path: str) -> int:
    return sum(f.endswith(".parquet") for f in os.listdir(path)) if os.path.isdir(path) else 0


class Planner:
    """Seeded query parameters over (conv, day, hour) cells that hold turns."""

    def __init__(self, seed: int, active: pd.DataFrame):
        self.rng = np.random.RandomState(seed)
        self.active = active

    def query(self, kind: str, days_1m: list[str], days_all: list[str], day: str | None = None) -> dict:
        q = {"kind": kind, "fill": None, "tier": "1m", "conv_ids": None}
        if kind == "range_1h_wide":
            lo = dt.datetime.fromisoformat(min(days_all))
            hi = dt.datetime.fromisoformat(max(days_all)) + dt.timedelta(days=1)
            q["tier"] = "1h"
        else:
            pool = self.active[self.active["day"].isin([day] if day else (days_all if kind == "points" else days_1m))]
            anchor = pool.iloc[self.rng.randint(len(pool))]
            same_day = sorted(set(pool[pool["day"] == anchor["day"]]["conv_id"]) - {anchor["conv_id"]})
            others = list(self.rng.choice(same_day, size=min(2, len(same_day)), replace=False))
            q["conv_ids"] = sorted([anchor["conv_id"], *others])
            lo = dt.datetime.fromisoformat(anchor["day"]) + dt.timedelta(hours=int(anchor["hour"]))
            hi = lo + dt.timedelta(hours=2)
            if kind.startswith("fill_"):
                q["fill"] = kind[5:]
        q.update(t0=_ts(lo), t1=_ts(hi), t0_us=_us(lo), t1_us=_us(hi))
        return q

    def kinds(self, workload: str) -> list[str]:
        """The queries that follow one write step."""
        if workload == "ingest_bulk":
            return ["range_1m"] * READ_BACKS
        return list(self.rng.permutation([k for k, n in QUERY_MIX.items() for _ in range(n)]))


class Source:
    """A generated input as the program sees it (``path``) plus what the
    benchmark knows about it: turns per day and the (conv, day, hour) cells
    that hold turns, for the query planner and the checks."""

    def __init__(self, chk, seed: int, path: str, partitioned: bool, staging: str | None = None):
        self.path, self.staging, self.seed = path, staging, seed
        self.sql = checks.raw_glob(path, partitioned)
        self.landed, self.active = chk.profile(checks.raw_glob(staging or path, partitioned))
        self.days = sorted(self.landed)
        self.reseed()

    def reseed(self) -> None:
        """Restart the query sequence from the seed."""
        self.planner = Planner(self.seed, self.active)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str,
                 out_dir: str, cores: int):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work, self.out_dir, self.cores = work, out_dir, cores
        self.shape = SHAPES[workload]
        self.spark = None
        self.tracer = Tracer()
        self.chk = checks.Checker(threads=min(2, cores), tmp_dir=f"{work}/tmp")
        self.rss = None
        self.base_days: list[str] | None = None
        self.mismatches: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.parity_done = False
        self.n_steps = 0
        self.n_queries = 0
        self.reset_samples()

    # ------------------------------------------------------------ session

    def start(self, cores: int, event_dir: str | None = None) -> None:
        w = self.work
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{w}/spark-local",
            "spark.sql.warehouse.dir": f"{w}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={w}/tmp -Dderby.system.home={w}/tmp",
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        self.tracer.spark = self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def restart(self, cores: int, event_dir: str | None = None) -> None:
        """A new session in the same JVM: JIT and codegen stay warm, the
        Python workers are new. One write step starts them before anything
        in the session is timed."""
        self.stop_session()
        self.start(cores, event_dir)
        self.warm_up(queries=False)

    def stop(self) -> None:
        self.stop_session()
        self.chk.close()

    def reset_samples(self) -> None:
        self.s = {"ingest": [], "increment": [], "query": [], "expire": [], "compact": [],
                  "phases": [], "bytes_per_turn": []}
        self.s_kind: dict[str, list[float]] = {k: [] for k in QUERY_KINDS}

    # ------------------------------------------------------------- set-up

    def make_inputs(self, root: str) -> None:
        sh, parts = self.shape, self.cores
        if self.workload == "ingest_bulk":
            inputs.write_flat(self.spark, f"{root}/flat", self.seed, parts=parts, **sh)
        else:
            inputs.write_daily(self.spark, f"{root}/staging", self.seed, parts=parts, **sh)

    def setup(self) -> float:
        """Input generation SETUP_ROUNDS times (the median counts), then the
        input profile, the warm-up and the workload's starting state;
        returns set-up seconds, session start excluded."""
        rounds = []
        n_rounds = 1 if self.trace else SETUP_ROUNDS  # a traced run reports no setup_s
        for r in range(n_rounds):
            root = f"{self.work}/in{r}"
            t0 = time.perf_counter()
            self.make_inputs(root)
            rounds.append(time.perf_counter() - t0)
            if r + 1 < n_rounds:
                shutil.rmtree(root)
        inp = f"{self.work}/in{n_rounds - 1}"
        t0 = time.perf_counter()
        if self.workload == "ingest_bulk":
            self.src = Source(self.chk, self.seed, f"{inp}/flat", partitioned=False)
            warm = f"{self.work}/warm_flat"
            inputs.write_flat(self.spark, warm, self.seed, parts=self.cores, **WARM_SHAPE)
            self.warm_src = Source(self.chk, self.seed, warm, partitioned=False)
        else:
            self.src = Source(self.chk, self.seed, f"{inp}/landing", partitioned=True,
                              staging=f"{inp}/staging")
        self.out, self.job_id = f"{self.work}/out", f"daily-{self.seed}"
        self.landed_days: list[str] = []
        t1 = time.perf_counter()
        self.warm_up()
        self.snapshot()
        # a full collection lets the JVM give back the heap that input
        # generation needed, so that it does not count in the window's peak
        self.spark._jvm.java.lang.System.gc()
        print(f"perfbench: input rounds {[round(r, 1) for r in rounds]}, "
              f"warm-up {time.perf_counter() - t1:.1f}s", file=sys.stderr)
        return statistics.median(rounds) + (time.perf_counter() - t0)

    def warm_up(self, queries: bool = True) -> None:
        """One write step and the queries that follow one in the window,
        checked but neither timed nor recorded, so JIT, codegen and the
        Python workers are warm before the window. ingest_bulk runs it on a
        small table of the same shape. daily_increments lands the next day:
        the first warm-up's day is the state every window starts from,
        later warm-ups are undone."""
        self.restore()
        main, parity_done = self.src, self.parity_done
        if self.workload == "ingest_bulk":
            self.src = self.warm_src
        self.next_step()
        if queries:
            self.warm_queries()
        if self.src is not main:
            self.src, self.parity_done = main, parity_done
        self.restore()
        self.reset_samples()

    def warm_queries(self) -> None:
        """The queries the window sends after one write step."""
        for kind in self.src.planner.kinds(self.workload):
            self.query(self.out, self.src.planner.query(
                kind, self.days_all[-RETAIN_1M_DAYS:], self.days_all))

    def snapshot(self) -> None:
        """Keep the state every window starts from. ingest_bulk writes each
        step into a fresh root, so only daily_increments copies its output."""
        self.base_days = list(self.landed_days)
        if self.workload == "daily_increments":
            shutil.copytree(self.out, f"{self.work}/base_out")

    def restore(self) -> None:
        """Back to the snapshot, if there is one: days landed since go back
        to staging and the output root is replaced by its copy. The query
        sequence restarts from the seed."""
        if self.workload == "daily_increments" and self.base_days is not None:
            for day in self.landed_days[len(self.base_days):]:
                os.rename(f"{self.src.path}/date={day}", f"{self.src.staging}/date={day}")
            self.landed_days = list(self.base_days)
            self.days_all = list(self.base_days)
            shutil.rmtree(self.out)
            shutil.copytree(f"{self.work}/base_out", self.out)
        self.src.reseed()

    # ---------------------------------------------------------- operations

    def query_df(self, out: str, q: dict):
        if q["kind"] == "points":
            return serving.read_points(self.spark, out, q["t0"], q["t1"], conv_ids=q["conv_ids"])
        return serving.query_range(
            self.spark, out, q["t0"], q["t1"], conv_ids=q["conv_ids"], tier=q["tier"], fill=q["fill"]
        )

    def timed_query(self, out: str, q: dict, trace_id: int, check: bool) -> tuple[float, list[str]]:
        """One timed query (collected to pandas), then its answer check."""
        name = "serving.read_points" if q["kind"] == "points" else "serving.query_range"
        with self.tracer.span(name, trace_id):
            t0 = time.perf_counter()
            got = self.query_df(out, q).toPandas()
            el = time.perf_counter() - t0
        bad = [f"query {q['kind']} {q['t0']}: empty answer"] if not len(got) else []
        if check:
            bad += self.chk.query_answer(out, self.src.sql, q, got)
        return el, bad

    def query(self, out: str, q: dict) -> None:
        self.attempted += 1
        self.n_queries += 1
        try:
            el, bad = self.timed_query(out, q, self.tracer.new_trace(),
                                       check=self.n_queries % CHECK_EVERY == 1)
        except Exception:  # noqa: BLE001 — a failed operation is counted, the loop goes on
            bad = [f"query {q['kind']} {q['t0']} raised:\n{traceback.format_exc()}"]
        if bad:
            self.failed += 1
            self.mismatches += bad
        else:
            self.s["query"].append(el)
            self.s_kind[q["kind"]].append(el)

    def write_step(self, out: str, job_id: str, days: list[str], held: list[str]) -> None:
        """job.run over ``days`` + expire + compact + one read-after-write
        query, timed part by part; ``held`` is every day the output root
        holds. Checks run between the parts, outside the timers: the
        conservation check again after compaction, and the 1m tier's
        partitions against the retention policy."""
        self.attempted += 1
        newest = max(days)
        tid = self.tracer.new_trace()
        try:
            with self.tracer.span("step", tid):
                bytes_before = tree_bytes_and_files(out)[0]
                with self.tracer.span("job.run"):
                    t0 = time.perf_counter()
                    summary = run_job(self.spark, RollupJobSpec(self.src.path, out, job_id=job_id))
                    t_job = time.perf_counter() - t0
                written = tree_bytes_and_files(out)[0] - bytes_before
                bad = self.chk.conservation(out, self.src.landed, days)
                if not self.parity_done:
                    convs = self.sample_convs(days)
                    bad += self.chk.parity_1m(out, self.src.sql, convs, days)
                    bad += self.chk.chunk_roundtrip(out, self.src.sql, convs)
                    self.parity_done = True
                now = dt.date.fromisoformat(newest) + dt.timedelta(days=1)
                keep_from = (now - dt.timedelta(days=RETAIN_1M_DAYS)).isoformat()
                part = retention.tier_root(out, "1m") + f"/date={newest}"
                with self.tracer.span("retention.expire"):
                    t0 = time.perf_counter()
                    retention.expire(out, now, {"1m": RETAIN_1M_DAYS})
                    t_exp = time.perf_counter() - t0
                self.files_before = n_parquet(part)
                with self.tracer.span("retention.compact"):
                    t0 = time.perf_counter()
                    retention.compact(self.spark, out, "1m", dates=[newest])
                    t_cmp = time.perf_counter() - t0
                self.files_after = n_parquet(part)
                bad += self.chk.conservation(out, self.src.landed, [newest])
                bad += checks.retained(out, "1m", held, keep_from)
                q = self.src.planner.query("range_1m", [newest], [newest], day=newest)
                t_q, q_bad = self.timed_query(out, q, tid, check=True)
                bad += q_bad
        except Exception:  # noqa: BLE001 — a failed operation is counted, the loop goes on
            bad = [f"write step {newest} raised:\n{traceback.format_exc()}"]
        if bad:
            self.failed += 1
            self.mismatches += bad
            return
        self.s["ingest"].append(t_job)
        self.s["bytes_per_turn"].append(written / sum(self.src.landed[d] for d in days))
        self.s["expire"].append(t_exp)
        self.s["compact"].append(t_cmp)
        self.s["increment"].append(t_job + t_exp + t_cmp + t_q)
        self.s["query"].append(t_q)
        self.s_kind["range_1m"].append(t_q)
        self.s["phases"].append(summary["phases"])
        self.last_job = (out, job_id)

    def sample_convs(self, days: list[str]) -> list[str]:
        """Seeded sample for the once-per-run parity checks: the busiest
        conversation plus up to 11 others with turns on ``days``."""
        a = self.src.active[self.src.active["day"].isin(days)]
        by_conv = a.groupby("conv_id")["n"].sum().sort_values(ascending=False)
        rng = np.random.RandomState(self.seed + 1)
        rest = list(by_conv.index[1:])
        pick = rng.choice(rest, size=min(11, len(rest)), replace=False) if rest else []
        return sorted({by_conv.index[0], *pick})

    # --------------------------------------------------------------- window

    def next_step(self) -> bool:
        """One write step: ingest_bulk writes the whole table into a fresh
        root; daily_increments lands the next staged day and resumes."""
        self.n_steps += 1
        if self.workload == "ingest_bulk":
            out = f"{self.work}/bulk_out{self.n_steps}"
            self.write_step(out, f"bulk-{self.n_steps}", self.src.days, self.src.days)
            shutil.rmtree(self.out, ignore_errors=True)
            self.out, self.days_all = out, self.src.days
            return True
        if len(self.landed_days) == len(self.src.days):
            return False
        day = self.src.days[len(self.landed_days)]
        inputs.land(self.src.staging, self.src.path, day)
        self.landed_days.append(day)
        self.write_step(self.out, self.job_id, [day], self.landed_days)
        self.days_all = list(self.landed_days)
        return True

    def window(self, n_steps: int | None = None) -> int:
        """Closed loop, one client: write step, queries, write step,
        queries, ... for at least ``seconds`` and at least MIN_STEPS steps,
        or for exactly ``n_steps`` steps; queries follow the first MIN_STEPS
        steps only, so every run holds the same number. Records the peak
        RSS and the share of CPU time the host's hypervisor took meanwhile;
        returns the number of steps."""
        self.rss.arm()
        steal0 = steal_seconds()
        t_start = time.perf_counter()
        deadline = t_start + self.seconds
        steps = 0
        while (steps < n_steps if n_steps else steps < MIN_STEPS or time.perf_counter() < deadline):
            if not self.next_step():
                break
            steps += 1
            if steps > MIN_STEPS:
                continue
            days_1m = self.days_all[-RETAIN_1M_DAYS:]
            for kind in self.src.planner.kinds(self.workload):
                self.query(self.out, self.src.planner.query(kind, days_1m, self.days_all))
        wall = time.perf_counter() - t_start
        self.steal_share = (steal_seconds() - steal0) / (wall * os.cpu_count())
        self.peak_rss_mb = self.rss.disarm()
        print(f"perfbench: window {wall:.1f}s, {steps} steps; samples (s): "
              + "; ".join(f"{k} {[round(x, 3) for x in v]}" for k, v in [
                  ("ingest", self.s["ingest"]), ("increment", self.s["increment"]),
                  *self.s_kind.items()] if v), file=sys.stderr)
        return steps

    def end_to_end(self, setup_s: float) -> dict:
        """The end-to-end metrics of the last window."""
        s = self.s
        br, be, _ = self.chk.chunk_totals(self.out)
        q_tail, q_p = tail(s["query"])
        i_tail, i_p = tail(s["increment"])
        self.tail_pcts = {"query_tail_ms": q_p, "increment_tail_s": i_p}
        return {
            "setup_s": (setup_s, "s"),
            "ingest_wall_s": (median(s["ingest"]), "s"),
            "output_bytes_per_turn": (median(s["bytes_per_turn"]), "B/turn"),
            "chunk_compression_ratio": (br / (be or 1), "x"),
            "query_p50_ms": (median(s["query"]) * 1e3, "ms"),
            "query_tail_ms": (q_tail * 1e3, "ms"),
            "queries_per_s": (len(s["query"]) / (sum(s["query"]) or 1.0), "1/s"),
            "increment_p50_s": (median(s["increment"]), "s"),
            "increment_tail_s": (i_tail, "s"),
            "ops_ok_ratio": ((self.attempted - self.failed) / max(1, self.attempted), "ratio"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
        }

    # ------------------------------------------------------------ traced run

    def scaling_leg(self) -> float:
        """The window's first write step again, from the same state, at
        local[1] in a new, warmed-up session; returns its job.run seconds."""
        self.restart(1)
        self.next_step()
        if not self.s["ingest"]:
            raise RuntimeError("the local[1] write step failed")
        return self.s["ingest"][0]

    def probes(self) -> dict:
        """Layer calls with a noop sink, each in its own span."""
        spark, tr = self.spark, self.tracer
        raw = spark.read.parquet(self.src.path)
        res: dict[str, float] = {}

        def noop_count(df) -> int:
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
            return obs.get["n"]

        n_parts = spark.sparkContext.defaultParallelism * 2
        with tr.span("probe.rollup.cascade", tr.new_trace()):
            t0 = time.perf_counter()
            slc, cur, cached = raw.repartition(n_parts, "conv_id"), None, []
            for t in TIER_ORDER:
                cur = rollup_from_raw(slc, t) if cur is None else rollup_cascade_step(cur, t)
                cur = cur.cache()
                cached.append(cur)
                res[f"rollup.rows_out.{t}"] = noop_count(cur)
            res["rollup.cascade_s"] = time.perf_counter() - t0
        for c in cached:
            c.unpersist()
        with tr.span("probe.gorilla.encode_chunks", tr.new_trace()):
            t0 = time.perf_counter()
            noop_count(encode_chunks(raw, value=F.expr("length(text)").cast("double"),
                                     order_cols=["ts", "turn_idx"]))
            res["gorilla.encode_chunks_s"] = time.perf_counter() - t0
        dense = f"{self.work}/dense"
        inputs.write_dense(spark, dense, self.seed, parts=self.cores, **DENSE_SHAPE)
        with tr.span("probe.gorilla.encode_chunks_large", tr.new_trace()):
            t0 = time.perf_counter()
            noop_count(encode_chunks(spark.read.parquet(dense),
                                     value=F.expr("length(text)").cast("double"),
                                     order_cols=["ts", "turn_idx"]))
            res["gorilla.encode_chunks_large_s"] = time.perf_counter() - t0
        day = self.days_all[-1]
        lo = dt.datetime.fromisoformat(day)
        hi = lo + dt.timedelta(days=1)
        with tr.span("probe.gapfill", tr.new_trace()):
            t0 = time.perf_counter()
            tier = (
                serving.read_tier(spark, self.out, "1m")
                .filter(F.col("date") == F.lit(day).cast("date"))
                .drop("tier", "date")
            )
            g = gapfill(tier, "1m", ["avg_len"], start=F.lit(_ts(lo)).cast("timestamp"),
                        end=F.lit(_ts(hi - dt.timedelta(minutes=1))).cast("timestamp"))
            obs = Observation()
            g.observe(obs, F.count(F.lit(1)).alias("n"),
                      F.sum(F.when(F.col("fill_method") == "observed", 1).otherwise(0)).alias("obs")
                      ).write.format("noop").mode("overwrite").save()
            res["gapfill.s"] = time.perf_counter() - t0
            res["gapfill.spine_rows_per_observed"] = obs.get["n"] / max(1, obs.get["obs"])
        out, job_id = self.last_job
        man = Manifest(spark, f"{out}/_manifest", job_id)
        with tr.span("manifest.done_keys", tr.new_trace()):
            t0 = time.perf_counter()
            man.done_keys()
            res["manifest.done_keys_s"] = time.perf_counter() - t0
        with tr.span("manifest.metrics_summary", tr.new_trace()):
            t0 = time.perf_counter()
            man.metrics_summary()
            res["manifest.metrics_summary_s"] = time.perf_counter() - t0
        res["manifest.files"] = n_parquet(f"{out}/_manifest")
        return res

    def kernel_probes(self) -> dict:
        """Gorilla kernels on one core (this process, no Spark) over the
        workload's own chunk mix: ``encode_many`` over every chunk in one
        call, ``encode`` chunk by chunk, and ``decode_many`` over every
        chunk the job wrote."""
        pts = self.chk.raw_points(self.src.sql)
        t, v = pts["t"].to_numpy(np.int64), pts["v"].to_numpy(np.float64)
        key = pts["conv_id"].to_numpy() + "|" + pts["d"].to_numpy()
        offs = np.concatenate(([0], np.flatnonzero(key[1:] != key[:-1]) + 1, [len(key)]))
        blobs = self.chk.chunk_blobs(self.out)
        _, b_enc, n_dec = self.chk.chunk_totals(self.out)

        def rate(fn, n_points):
            reps, t0 = 0, time.perf_counter()
            while reps < 2 or time.perf_counter() - t0 < 0.5:
                fn()
                reps += 1
            return n_points * reps / (time.perf_counter() - t0)

        def encode_each():
            for o, e in zip(offs[:-1], offs[1:]):
                encode(t[o:e], v[o:e])

        return {
            "gorilla.encode_kernel_pts_per_s": rate(lambda: encode_many(t, v, offs), len(t)),
            "gorilla.encode_single_kernel_pts_per_s": rate(encode_each, len(t)),
            "gorilla.decode_kernel_pts_per_s": rate(lambda: decode_many(blobs), n_dec),
            "gorilla.bytes_per_point": b_enc / n_dec,
        }

    def per_layer(self, untraced: dict, traced: dict, folded: dict, probes: dict,
                  scale: tuple[float, float]) -> dict:
        spans = self.tracer.spans
        by_name: dict[str, list[dict]] = {}
        for sp in spans:
            by_name.setdefault(sp["name"], []).append(sp)
        f = lambda sp, k: folded.get(sp["id"], {}).get(k, 0.0)  # noqa: E731
        m: dict[str, tuple[float, str]] = {}
        phases = self.s["phases"]
        for ph in ("discover", "manifest_resume", "tier_counts", "writers_join",
                   "metrics_collect", "manifest_summary"):
            vals = [sum(v for k, v in p.items() if k.startswith("tier_")) if ph == "tier_counts"
                    else p.get(ph, 0.0) for p in phases]
            m[f"job.phase.{ph}_s"] = (median(vals), "s")
        jobs = by_name.get("job.run", [])
        busy = [f(sp, "stage_busy_s") for sp in jobs]
        m["job.stage_busy_s"] = (median(busy), "s")
        m["job.driver_only_s"] = (median([sp["end"] - sp["start"] - b for sp, b in zip(jobs, busy)]), "s")
        t_n, t_1 = scale
        m["job.scaling_eff_1v4"] = (t_1 / (self.cores * t_n), "ratio")
        m["rollup.cascade_s"] = (probes["rollup.cascade_s"], "s")
        for t in TIER_ORDER:
            m[f"rollup.rows_out.{t}"] = (probes[f"rollup.rows_out.{t}"], "count")
        casc = by_name["probe.rollup.cascade"][0]
        m["rollup.shuffle_write_bytes"] = (f(casc, "shuffle_write_bytes"), "B")
        m["gorilla.encode_chunks_s"] = (probes["gorilla.encode_chunks_s"], "s")
        m["gorilla.encode_chunks_large_s"] = (probes["gorilla.encode_chunks_large_s"], "s")
        for k in ("start", "init", "run"):
            m[f"gorilla.python_worker_{k}_s"] = (median([f(sp, f"python_worker_{k}") / 1e3 for sp in jobs]), "s")
        for k in ("in", "out"):
            m[f"gorilla.arrow_bytes_{k}"] = (median([f(sp, f"arrow_bytes_{k}") for sp in jobs]), "B")
        m["gorilla.encode_kernel_pts_per_s"] = (probes["gorilla.encode_kernel_pts_per_s"], "1/s")
        m["gorilla.encode_single_kernel_pts_per_s"] = (
            probes["gorilla.encode_single_kernel_pts_per_s"], "1/s")
        m["gorilla.decode_kernel_pts_per_s"] = (probes["gorilla.decode_kernel_pts_per_s"], "1/s")
        m["gorilla.bytes_per_point"] = (probes["gorilla.bytes_per_point"], "B")
        m["gapfill.s"] = (probes["gapfill.s"], "s")
        m["gapfill.spine_rows_per_observed"] = (probes["gapfill.spine_rows_per_observed"], "ratio")
        for kind in QUERY_KINDS:
            m[f"serving.latency_ms.{kind}"] = (median(self.s_kind[kind]) * 1e3, "ms")
        served = by_name.get("serving.query_range", []) + by_name.get("serving.read_points", [])
        m["serving.files_read_per_query"] = (sum(f(sp, "files_read") for sp in served) / max(1, len(served)), "count")
        for k in ("done_keys_s", "metrics_summary_s", "files"):
            m[f"manifest.{k}"] = (probes[f"manifest.{k}"], "count" if k == "files" else "s")
        m["retention.expire_s"] = (median(self.s["expire"]), "s")
        m["retention.compact_s"] = (median(self.s["compact"]), "s")
        m["retention.files_before"] = (self.files_before, "count")
        m["retention.files_after"] = (self.files_after, "count")
        total, per_dir = tree_bytes_and_files(self.out)
        m["write.files_per_date_dir"] = (sum(per_dir) / max(1, len(per_dir)), "count")
        m["write.bytes_total"] = (total, "B")
        for k in ("ingest_wall_s", "increment_p50_s", "query_p50_ms"):
            m[f"trace.overhead.{k}"] = (traced[k][0] - untraced[k][0], untraced[k][1])
        for name in SPAN_NAMES:
            sps = by_name.get(name, [])
            for k in SPAN_METRICS:
                # mean per call; task_skew over the calls that ran a stage of 2+ tasks
                v = [folded[sp["id"]][k] for sp in sps if k in folded.get(sp["id"], {})]
                if k != "task_skew":
                    v += [0.0] * (len(sps) - len(v))
                unit = "ratio" if k == "task_skew" else ("B" if k.endswith("bytes") else "s")
                m[f"span.{name}.{k}"] = (sum(v) / max(1, len(v)), unit)
        return m

    def run(self, rss) -> dict:
        self.rss, rss.exclude = rss, self.chk.pid
        t0 = time.perf_counter()
        self.start(self.cores)
        t_session = time.perf_counter() - t0
        setup_s = t_session + self.setup()
        print(f"perfbench: session {t_session:.1f}s, set-up {setup_s:.1f}s", file=sys.stderr)
        n_steps = self.window()
        e2e = self.end_to_end(setup_s)
        if not self.trace or self.mismatches:
            return e2e
        t_n = self.s["ingest"][0]
        scale = (t_n, self.scaling_leg())
        ev_dir = f"{self.work}/eventlog"
        self.restart(self.cores, event_dir=ev_dir)
        self.tracer.enabled = True
        self.window(n_steps)
        probes = self.probes()
        traced = self.end_to_end(setup_s)
        self.stop_session()
        self.tracer.enabled = False
        logs = [os.path.join(ev_dir, p) for p in os.listdir(ev_dir)]
        folded = fold_event_log(logs[0], self.tracer.spans)
        probes.update(self.kernel_probes())
        layer = self.per_layer(e2e, traced, folded, probes, scale)
        os.makedirs(self.out_dir, exist_ok=True)
        self.tracer.dump(os.path.join(self.out_dir, f"spans_{self.workload}.json"))
        return layer
