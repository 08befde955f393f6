"""Correctness checks run by the benchmark, outside every timed section.

The program's outputs are compared with DuckDB over the files on disk:

- conservation per day after every write step: rows landed = sum of 1m
  ``turn_count`` = sum of chunk ``n_points``, and sum of ``turn_count`` is
  equal across all four tiers;
- once per invocation, a sample of 1m buckets recomputed from the raw parquet
  (parity rules: exact integer sums, avg = sum / count, ``last`` by the
  composite (ts, turn_idx) key);
- once per invocation, a sample of Gorilla chunks decoded and compared with
  the raw points;
- serving answers recomputed from the written tier files (ranges, LOCF and
  linear fill) or from the raw parquet (decoded points).

Every check returns a list of mismatch strings; an empty list means correct.

The checks, and the benchmark's other DuckDB reads, run in a child process
of their own (``Checker``), so that DuckDB's memory stays out of the peak
RSS the benchmark reports for the program.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

from addax_spark.operators.bucketize import TIER_ORDER, TIERS
from addax_spark.operators.gorilla import decode_many
from addax_spark.operators.rollup import ROLLUP_COLS


def connect(threads: int, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def raw_glob(path: str, partitioned: bool) -> str:
    src = f"{path}/date=*/*.parquet" if partitioned else f"{path}/*.parquet"
    return f"read_parquet('{src}', hive_partitioning={int(partitioned)})"


def tier_glob(out: str, tier: str) -> str:
    return f"read_parquet('{out}/tiers/tier={tier}/date=*/*.parquet', hive_partitioning=1)"


def chunk_glob(out: str) -> str:
    return f"read_parquet('{out}/chunks/date=*/*.parquet', hive_partitioning=1)"


def _in_list(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


def _us(series: pd.Series) -> np.ndarray:
    """Timestamps (naive UTC) as int64 epoch microseconds."""
    return pd.to_datetime(series).astype("datetime64[us]").astype("int64").to_numpy()


def frames_equal(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str], what: str) -> list[str]:
    """Exact comparison after sorting both sides by ``keys``; NaN == NaN and
    None == NaN, integer and float kinds compared by value."""
    if list(got.columns) != list(exp.columns):
        return [f"{what}: columns {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"{what}: {len(got)} rows, expected {len(exp)}"]
    g = got.sort_values(keys, kind="stable").reset_index(drop=True)
    e = exp.sort_values(keys, kind="stable").reset_index(drop=True)
    bad = []
    for c in g.columns:
        a, b = g[c], e[c]
        if a.dtype == object or b.dtype == object:
            av = [None if (x is None or (isinstance(x, float) and np.isnan(x))) else x for x in a]
            bv = [None if (x is None or (isinstance(x, float) and np.isnan(x))) else x for x in b]
            ok = av == bv
        else:
            ok = np.array_equal(a.to_numpy(np.float64), b.to_numpy(np.float64), equal_nan=True)
        if not ok:
            bad.append(f"{what}: column {c} differs")
    return bad


def profile(con, raw: str) -> tuple[dict[str, int], pd.DataFrame]:
    """Turns per day, and the (conv, day, hour) cells that hold turns."""
    rows = con.execute(
        f"SELECT CAST(CAST(ts AS DATE) AS VARCHAR), count(*) FROM {raw} GROUP BY 1"
    ).fetchall()
    active = con.execute(
        f"SELECT conv_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, hour(ts) AS hour, "
        f"count(*) AS n FROM {raw} GROUP BY ALL ORDER BY ALL"
    ).df()
    return {d: int(n) for d, n in rows}, active


def chunk_totals(con, out: str) -> tuple[int, int, int]:
    """(bytes_raw, bytes_enc, n_points) summed over the chunk table."""
    return tuple(int(x or 0) for x in con.execute(
        f"SELECT sum(bytes_raw), sum(bytes_enc), sum(n_points) FROM {chunk_glob(out)}"
    ).fetchone())


def chunk_blobs(con, out: str) -> list[bytes]:
    return [bytes(b) for (b,) in con.execute(f"SELECT chunk FROM {chunk_glob(out)}").fetchall()]


def raw_points(con, raw: str) -> pd.DataFrame:
    """Every raw point as the chunk encoder sees it, in (conv, day, ts,
    turn_idx) order, with the day of its chunk."""
    return con.execute(
        f"SELECT conv_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS d, epoch_us(ts) AS t, "
        f"length(text)::DOUBLE AS v FROM {raw} ORDER BY conv_id, d, t, turn_idx"
    ).df()


def conservation(con, out: str, landed: dict[str, int], days: list[str]) -> list[str]:
    """Per-day row conservation across raw, 1m, every tier and the chunks."""
    day_list = _in_list(days)
    tier_sums: dict[str, dict[str, int]] = {}
    for t in TIER_ORDER:
        tier_sums[t] = {
            str(d): int(n)
            for d, n in con.execute(
                f"SELECT CAST(date AS VARCHAR), sum(turn_count)::BIGINT FROM {tier_glob(out, t)} "
                f"WHERE CAST(date AS VARCHAR) IN ({day_list}) GROUP BY 1"
            ).fetchall()
        }
    chunk_sums = {
        str(d): int(n)
        for d, n in con.execute(
            f"SELECT CAST(date AS VARCHAR), sum(n_points)::BIGINT FROM {chunk_glob(out)} "
            f"WHERE CAST(date AS VARCHAR) IN ({day_list}) GROUP BY 1"
        ).fetchall()
    }
    bad = []
    for d in days:
        want = landed.get(d, 0)
        got = {t: tier_sums[t].get(d, 0) for t in TIER_ORDER}
        got["chunks"] = chunk_sums.get(d, 0)
        if any(v != want for v in got.values()):
            bad.append(f"conservation {d}: landed {want}, got {got}")
    return bad


def retained(out: str, tier: str, written: list[str], keep_from: str) -> list[str]:
    """After ``retention.expire``: the tier holds exactly the written
    ``date=`` partitions on or after ``keep_from``, the policy's cutoff."""
    root = f"{out}/tiers/tier={tier}"
    have = sorted(p.split("=", 1)[1] for p in os.listdir(root) if p.startswith("date="))
    want = sorted(d for d in written if d >= keep_from)
    return [] if have == want else [f"retention: tier {tier} holds {have}, policy keeps {want}"]


def parity_1m(con, out: str, raw: str, convs: list[str], days: list[str]) -> list[str]:
    """1m buckets of ``convs`` on ``days``: tier files vs DuckDB over raw."""
    c, d = _in_list(convs), _in_list(days)
    step = TIERS["1m"] * 1_000_000
    exp = con.execute(
        f"""
        SELECT conv_id, (epoch_us(ts) - epoch_us(ts) % {step}) AS bucket_start,
               count(*)::BIGINT AS turn_count,
               sum(length(text))::BIGINT AS sum_len,
               min(length(text))::BIGINT AS min_len,
               max(length(text))::BIGINT AS max_len,
               sum(length(text))::BIGINT::DOUBLE / count(*) AS avg_len,
               max_by(epoch_us(ts), epoch_us(ts)::HUGEINT * 1000000 + turn_idx) AS last_ts,
               max_by(turn_idx, epoch_us(ts)::HUGEINT * 1000000 + turn_idx)::BIGINT AS last_turn_idx,
               max_by(text, epoch_us(ts)::HUGEINT * 1000000 + turn_idx) AS last_text
        FROM {raw}
        WHERE conv_id IN ({c}) AND CAST(CAST(ts AS DATE) AS VARCHAR) IN ({d})
        GROUP BY conv_id, 2
        """
    ).df()
    got = con.execute(
        f"""
        SELECT conv_id, epoch_us(bucket_start) AS bucket_start, turn_count, sum_len,
               min_len, max_len, avg_len, epoch_us(last_ts) AS last_ts,
               last_turn_idx::BIGINT AS last_turn_idx, last_text
        FROM {tier_glob(out, '1m')}
        WHERE conv_id IN ({c}) AND CAST(date AS VARCHAR) IN ({d})
        """
    ).df()
    if not len(exp):
        return [f"parity_1m: no raw rows for sample {convs} on {days}"]
    return frames_equal(got[ROLLUP_COLS], exp[ROLLUP_COLS], ["conv_id", "bucket_start"], "parity_1m")


def chunk_roundtrip(con, out: str, raw: str, convs: list[str]) -> list[str]:
    """Decode every chunk of ``convs`` and compare with the raw points."""
    c = _in_list(convs)
    chunks = con.execute(
        f"SELECT conv_id, CAST(date AS VARCHAR) AS d, n_points, chunk FROM {chunk_glob(out)} "
        f"WHERE conv_id IN ({c}) ORDER BY conv_id, d"
    ).fetchall()
    if not chunks:
        return [f"chunk_roundtrip: no chunks for sample {convs}"]
    pts = con.execute(
        f"SELECT conv_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS d, epoch_us(ts) AS t, "
        f"length(text)::DOUBLE AS v FROM {raw} WHERE conv_id IN ({c}) "
        f"ORDER BY conv_id, d, t, turn_idx"
    ).df()
    want_n = pts.groupby(["conv_id", "d"], sort=True).size()
    t, v, ns = decode_many([bytes(ch[3]) for ch in chunks])
    keys = [(ch[0], ch[1]) for ch in chunks]
    if keys != list(want_n.index) or list(ns) != list(want_n) or [ch[2] for ch in chunks] != list(ns):
        return [f"chunk_roundtrip: chunk keys or point counts differ from raw for {convs}"]
    if not (np.array_equal(t, pts["t"].to_numpy()) and np.array_equal(v, pts["v"].to_numpy())):
        return [f"chunk_roundtrip: decoded points differ from raw for {convs}"]
    return []


def _range_expected(con, out: str, q: dict) -> pd.DataFrame:
    where = f"epoch_us(bucket_start) >= {q['t0_us']} AND epoch_us(bucket_start) < {q['t1_us']}"
    if q["conv_ids"]:
        where += f" AND conv_id IN ({_in_list(q['conv_ids'])})"
    return con.execute(
        f"""
        SELECT conv_id, epoch_us(bucket_start) AS bucket_start, turn_count, sum_len,
               min_len, max_len, avg_len, epoch_us(last_ts) AS last_ts,
               last_turn_idx::BIGINT AS last_turn_idx, last_text
        FROM {tier_glob(out, q['tier'])} WHERE {where}
        """
    ).df()


def _fill_expected(con, out: str, q: dict) -> pd.DataFrame:
    """Dense spine per conv observed in the window, then LOCF or linear fill
    with the same IEEE expression the engine evaluates."""
    step = TIERS[q["tier"]] * 1_000_000
    lo = q["t0_us"] - q["t0_us"] % step
    hi = (q["t1_us"] - 1) - (q["t1_us"] - 1) % step
    obs = _range_expected(con, out, q)
    con.register("obs_v", obs)
    try:
        m = q["fill"]
        if m == "locf":
            fill = "last_value(o.avg_len IGNORE NULLS) OVER w_back"
        else:
            fill = """CASE WHEN o.conv_id IS NOT NULL THEN o.avg_len::DOUBLE ELSE
                 last_value(o.avg_len IGNORE NULLS) OVER w_back::DOUBLE
                 + (last_value(o.avg_len IGNORE NULLS) OVER w_fwd::DOUBLE
                    - last_value(o.avg_len IGNORE NULLS) OVER w_back::DOUBLE)
                 * ((s.b - last_value(o.bucket_start IGNORE NULLS) OVER w_back)::DOUBLE
                    / (last_value(o.bucket_start IGNORE NULLS) OVER w_fwd
                       - last_value(o.bucket_start IGNORE NULLS) OVER w_back)::DOUBLE) END"""
        return con.execute(
            f"""
            WITH convs AS (SELECT DISTINCT conv_id FROM obs_v),
            spine AS (
              SELECT c.conv_id, g.b FROM convs c,
              (SELECT unnest(range({lo}, {hi} + 1, {step})) AS b) g
            )
            SELECT s.conv_id, s.b AS bucket_start,
                   CASE WHEN o.conv_id IS NULL THEN 'gap' ELSE 'observed' END AS fill_method,
                   o.avg_len, {fill} AS filled
            FROM spine s LEFT JOIN obs_v o ON o.conv_id = s.conv_id AND o.bucket_start = s.b
            WINDOW w_back AS (PARTITION BY s.conv_id ORDER BY s.b
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_fwd AS (PARTITION BY s.conv_id ORDER BY s.b DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            """
        ).df()
    finally:
        con.unregister("obs_v")


def _points_expected(con, raw: str, q: dict) -> pd.DataFrame:
    return con.execute(
        f"SELECT conv_id, epoch_us(ts) AS ts, length(text)::DOUBLE AS value FROM {raw} "
        f"WHERE conv_id IN ({_in_list(q['conv_ids'])}) "
        f"AND epoch_us(ts) >= {q['t0_us']} AND epoch_us(ts) < {q['t1_us']}"
    ).df()


def query_answer(con, out: str, raw: str, q: dict, got: pd.DataFrame) -> list[str]:
    """Recompute one serving answer in DuckDB and compare it with ``got``."""
    what = f"query {q['kind']} {q['t0']}..{q['t1']}"
    if q["kind"] == "points":
        g = pd.DataFrame({"conv_id": got["conv_id"], "ts": _us(got["ts"]), "value": got["value"]})
        return frames_equal(g, _points_expected(con, raw, q), ["conv_id", "ts", "value"], what)
    if q.get("fill"):
        col = f"avg_len_{q['fill']}"
        g = pd.DataFrame({
            "conv_id": got["conv_id"], "bucket_start": _us(got["bucket_start"]),
            "fill_method": got["fill_method"], "avg_len": got["avg_len"], "filled": got[col],
        })
        return frames_equal(g, _fill_expected(con, out, q), ["conv_id", "bucket_start"], what)
    g = got[ROLLUP_COLS].copy()
    for c in ("bucket_start", "last_ts"):
        g[c] = _us(g[c])
    return frames_equal(g, _range_expected(con, out, q)[ROLLUP_COLS], ["conv_id", "bucket_start"], what)


# ------------------------------------------------------------- child process


class Checker:
    """The functions of this module in a child process with its own DuckDB
    connection: ``checker.f(*args)`` runs ``f(con, *args)`` there and
    returns its result. Closing stdin ends the child."""

    def __init__(self, threads: int, tmp_dir: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(threads), tmp_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )

    @property
    def pid(self) -> int:
        return self.proc.pid

    def __getattr__(self, name: str):
        if name.startswith("_") or name == "proc":
            raise AttributeError(name)

        def call(*args):
            pickle.dump((name, args), self.proc.stdin)
            self.proc.stdin.flush()
            ok, res = pickle.load(self.proc.stdout)
            if not ok:
                raise RuntimeError(f"checks.{name} raised in the checker:\n{res}")
            return res

        return call

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            self.proc.wait()


def serve(threads: int, tmp_dir: str) -> None:
    """The child's loop: read (name, args), answer (ok, result or trace)."""
    inp = sys.stdin.buffer
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # stray prints go to stderr, not into the answer pipe
    con = connect(threads, tmp_dir)
    while True:
        try:
            name, args = pickle.load(inp)
        except EOFError:
            return
        try:
            res = (True, globals()[name](con, *args))
        except Exception:  # noqa: BLE001 — sent back and raised in the parent
            res = (False, traceback.format_exc())
        pickle.dump(res, out)
        out.flush()


if __name__ == "__main__":
    serve(int(sys.argv[1]), sys.argv[2])
