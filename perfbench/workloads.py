"""The benchmark's three workloads; one fresh process runs one of them.

    python -m perfbench.workloads --workload NAME --seed N --seconds S
        --trace 0|1 --work DIR [--tiny]

Run it through ``perfbench/run.py``, which pins the session
environment. One closed-loop client (this thread) issues the ops.
Set-up (session start, input generation, full-size warm-ups) is timed
as ``setup_s``; correctness checks run outside every timed region.
The last stdout line is the result object; the line before it is a
detail record with the workload-specific numbers.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up includes importing the engine

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench import eventlog  # noqa: E402
from perfbench.tables import write_tables  # noqa: E402
from tools.check_correctness import normalize  # noqa: E402
from tools.gen_dump import entity  # noqa: E402
from wd2duckdb_spark import get_spark  # noqa: E402
from wd2duckdb_spark.catalog import oracle_view_sql  # noqa: E402
from wd2duckdb_spark.ingest import (  # noqa: E402
    TABLE_NAMES,
    exploded_claims,
    ingest,
    parse_entities,
    read_dump_lines,
    sanitize_lines,
)
from wd2duckdb_spark.operators.graph import k_hop  # noqa: E402
from wd2duckdb_spark.registry import all_oracles, all_queries  # noqa: E402
from wd2duckdb_spark.sources.duckdb_io import export_duckdb  # noqa: E402
from wd2duckdb_spark.views import register_views  # noqa: E402

#: The analytics_mix query set: (engine module, registered query name).
MIX = (
    ("relational", "q1_pricing_summary"),
    ("relational", "q3_shipping_priority"),
    ("tpch_derived", "q21_late_suppliers"),
    ("graph", "graph_2hop"),
    ("analytics", "session_funnel"),
    ("temporal", "rolling_7d_features"),
    ("dedup", "minhash_lsh_pairs"),
    ("text", "bm25_eval"),
    ("similarity", "ann_filtered_ivf"),
    ("ann_index", "ann_index_probe"),
    ("training", "pack_sequences"),
    ("sketches", "hll_distinct_rollup"),
    ("skew", "skew_salted_agg"),
    ("retrieval", "hybrid_rrf_topk"),
    ("bpe", "token_count_real_bpe"),
    ("quality", "dq_report"),
)
MIX_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()
#: The analytics tables are fixed; ``--seed`` orders the queries.
TABLE_SEED = 7

#: Input sizes: dump lines of the two ingest workloads, and the scale
#: of the analytics tables.
SIZES = {
    "full": {"ingest_lines": 20000, "kg_lines": 10000, "scale": 1.0},
    "tiny": {"ingest_lines": 300, "kg_lines": 300, "scale": 0.05},
}
#: One round of the KG mix: 18 point lookups (6 of each shape), 2
#: traversals, 3 scans. The counts give each op type an equal share of
#: the round's time. Warm p50s on 4 cores, median of ten runs, were
#: 89 ms (lookup), 873 ms (traverse) and 557 ms (scan), so a round
#: spends about 1.6 s, 1.7 s and 1.7 s on the three types.
KG_ROUND = ("lookup_src", "lookup_dst", "lookup_vertex") * 6 + ("traverse",) * 2 + ("scan",) * 3

#: Least work of an untraced run beyond ``--seconds``, so every run
#: gets enough ingest ops, KG rounds and query passes for a median.
INGEST_MIN_OPS = 2
KG_MIN_ROUNDS = 2
MIX_MIN_PASSES = 2
#: Fixed work of a traced run, so its counts repeat exactly.
TRACE_OPS = {"ingest_export": 2, "kg_query": 2 * len(KG_ROUND), "analytics_mix": len(MIX)}
KG_SQL = {
    "lookup_src": "SELECT src_id, property_id, dst_id FROM edge WHERE src_id = {k}",
    "lookup_dst": "SELECT src_id, property_id, dst_id FROM edge WHERE dst_id = {k}",
    "lookup_vertex": "SELECT id, label, description FROM vertex WHERE id = {k}",
    "scan": (
        "SELECT t.property_id, count(*) AS n, max(v.label) AS sample_label "
        "FROM triples t JOIN vertex v ON t.src_id = v.id "
        "WHERE v.id % 8 = {k} GROUP BY t.property_id"
    ),
    # DuckDB-side form of a 2-hop k_hop from ``vertex.id % 97 = k``
    "traverse": (
        "SELECT DISTINCT e2.dst_id AS id FROM vertex v "
        "JOIN edge e1 ON e1.src_id = v.id JOIN edge e2 ON e2.src_id = e1.dst_id "
        "WHERE v.id % 97 = {k}"
    ),
}
DUCK_TRIPLES = "WITH triples AS ({}) ".format(
    " UNION ALL ".join(
        f'SELECT src_id, property_id, dst_id FROM "{t}"'
        for t in ("edge", "string", "coordinates", "quantity", "time")
    )
)
SPLIT_CONFS = ("maxPartitionBytes", "openCostInBytes", "minPartitionNum")

# Every workload reports every metric; a per-layer 0 means the
# workload does not call that layer.
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_ms": "ms"}
PER_LAYER = (
    [
        "trace.throughput_per_s",
        "trace.op_p50_ms",
        "executor.run_ms",
        "executor.cpu_ms",
        "executor.gc_ms",
        "executor.spill_bytes",
        "ingest.read_ms",
        "ingest.parse_ms",
        "ingest.claims_ms",
        "ingest.ingest_ms",
    ]
    + [f"ingest.rows_{t}" for t in TABLE_NAMES]
    + [
        "ingest.corrupt_lines",
        "ingest.parquet_files",
        "ingest.parquet_bytes",
        "duckdb_io.export_ms",
        "duckdb_io.db_bytes",
        "views.register_ms",
        "views.lookup_build_ms",
        "views.lookup_run_ms",
        "views.lookup_input_bytes",
        "views.scan_ms",
        "views.scan_shuffle_bytes",
        "graph.k_hop_ms",
        "graph.k_hop_tasks",
        "graph.k_hop_shuffle_bytes",
    ]
    + [
        f"{m}.{q}.{k}"
        for m, q in MIX
        for k in ("build_ms", "run_ms", "tasks", "shuffle_bytes")
    ]
)


def layer_unit(name: str) -> str:
    if name == "trace.throughput_per_s":
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def median_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0 if xs else 0.0


def p50_by_kind(kinds: list[str], lat: list[float]) -> dict[str, float]:
    """Median latency in ms of each kind of op; ``kinds[i]`` is the
    kind of the op that took ``lat[i]`` seconds."""
    by_kind: dict[str, list[float]] = {}
    for kind, dt in zip(kinds, lat):
        by_kind.setdefault(kind, []).append(dt)
    return {kind: median_ms(xs) for kind, xs in by_kind.items()}


class Tally:
    """Ops attempted and failed; an op fails if it raises or its
    checked answer is wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def expect(self, what: str, ok: bool) -> None:
        if not ok:
            self.fail(what)


def same_answer(cols, rows, dcols, drows) -> bool:
    """Row count, column names and the order-insensitive value hash,
    as the oracle gate compares them."""
    return (
        sorted(cols) == sorted(dcols)
        and len(rows) == len(drows)
        and normalize(rows, list(cols)) == normalize(drows, list(dcols))
    )


class Run:
    """One workload run: session, scratch paths, layer spans, tally."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.size = SIZES["tiny" if args.tiny else "full"]
        self.rng = random.Random(args.seed)
        self.tally = Tally()
        self.check_s = 0.0  # checking time inside the set-up window
        self.measuring = True
        self.windows: list[tuple[str, float, float]] = []
        self.durations: dict[str, list[float]] = {}
        self.loop_labels: set[str] = set()  # spans of the measured loop
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.detail: dict = {}
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def path(self, *parts: str) -> str:
        return os.path.join(self.args.work, *parts)

    @contextmanager
    def span(self, label: str):
        """Time one call into a layer; in the traced run also label its
        jobs with the layer's job group."""
        sc = self.spark.sparkContext
        record = self.measuring
        if record and self.trace:
            sc.setJobGroup(label, label)
        t0, w0 = time.perf_counter(), time.time()
        try:
            yield
        finally:
            if record:
                self.durations.setdefault(label, []).append(time.perf_counter() - t0)
                self.windows.append((label, w0 * 1000.0, time.time() * 1000.0))
            if record and self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def ms(self, label: str) -> float:
        return median_ms(self.durations.get(label, []))

    @contextmanager
    def checking(self):
        """Exclude the enclosed check from ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def setup_done(self) -> float:
        return time.perf_counter() - T0 - self.check_s

    def loop(self, op, after=None, whole=lambda: True, min_ops=1) -> list[float]:
        """The measured closed loop: time ``op(i)`` until ``--seconds``
        have passed, at least ``min_ops`` ops ran and ``whole()`` holds
        (a traced run does a fixed number of ops instead);
        ``after(i, result)`` runs once the op's clock has stopped. An op
        that raises is counted failed."""
        lat: list[float] = []
        end = time.perf_counter() + self.args.seconds
        n_trace = TRACE_OPS[self.args.workload]
        first_window = len(self.windows)
        while True:
            i = len(lat)
            self.tally.attempted += 1
            t0 = time.perf_counter()
            try:
                result = op(i)
            except Exception:  # noqa: BLE001 - count it, keep the loop going
                self.tally.fail(f"op {i}: {traceback.format_exc(limit=3)}")
                result = None
            lat.append(time.perf_counter() - t0)
            if after is not None and result is not None:
                after(i, result)
            if whole() and (
                len(lat) >= n_trace
                if self.trace
                else len(lat) >= min_ops and time.perf_counter() >= end
            ):
                self.loop_labels = {w[0] for w in self.windows[first_window:]}
                return lat

    def finish(self, e2e: dict[str, float], lat: list[float]) -> dict:
        """Stop the session; in the traced run fold the event log's
        task counters into the per-layer metrics."""
        self.spark.stop()
        if not self.trace:
            return {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        counters = eventlog.task_counters(
            eventlog.find_log(self.path("eventlog")), self.windows
        )
        self.layer["trace.throughput_per_s"] = e2e["throughput_per_s"]
        self.layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
        for key in ("run_ms", "cpu_ms", "gc_ms", "spill_bytes"):
            total = sum(counters.get(lb, {}).get(key, 0) for lb in self.loop_labels)
            self.layer[f"executor.{key}"] = total / len(lat)
        self.apply_counters(counters)
        return {k: {"value": v, "unit": layer_unit(k)} for k, v in self.layer.items()}

    def apply_counters(self, counters: dict[str, dict[str, float]]) -> None:
        def per_op(label: str, key: str) -> float:
            n = len(self.durations.get(label, ())) or 1
            return counters.get(label, {}).get(key, 0) / n

        self.layer["views.lookup_input_bytes"] = per_op("views.lookup.run", "input_bytes")
        self.layer["views.scan_shuffle_bytes"] = sum(
            per_op(f"views.scan.{p}", "shuffle_write_bytes") for p in ("build", "run")
        )
        self.layer["graph.k_hop_tasks"] = per_op("graph.k_hop", "tasks")
        self.layer["graph.k_hop_shuffle_bytes"] = per_op("graph.k_hop", "shuffle_write_bytes")
        for m, q in MIX:
            for key, name in (("tasks", "tasks"), ("shuffle_write_bytes", "shuffle_bytes")):
                self.layer[f"{m}.{q}.{name}"] = sum(
                    per_op(f"{q}.{p}", key) for p in ("build", "run")
                )


# ---------------------------------------------------------------------------
# ingest-side inputs and checks (ingest_export and kg_query)
# ---------------------------------------------------------------------------


def dump_start(seed: int, n: int) -> int:
    """First entity index of the seed's dump. Starting past index 999
    keeps every seed's graph the same shape (P31 targets Q1..Q1000
    are never in the dump) and ids far below 2^32."""
    return 1000 + (seed % 10000) * n


def write_dump(path: str, lo: int, n: int) -> int:
    """``tools.gen_dump.entity(i)`` for ``lo <= i < lo + n`` in the
    dump's one-entity-per-line JSON array format; returns its bytes."""
    with open(path, "w") as f:
        f.write("[\n")
        for i in range(lo, lo + n):
            f.write(json.dumps(entity(i), separators=(",", ":")))
            f.write(",\n" if i < lo + n - 1 else "\n")
        f.write("]\n")
    return os.path.getsize(path)


def expected_rows(lo: int, n: int) -> dict[str, int]:
    """Rows per table that ingesting ``write_dump(lo, n)`` must give:
    each entity has one P31 item, one external id, one quantity and one
    time claim; every 7th a novalue snak (an edge self-loop); every 5th
    a coordinate; every 11th a deprecated claim, which is dropped."""

    def every(k: int) -> int:
        return (lo + n - 1) // k - (lo - 1) // k

    return {
        "vertex": n,
        "edge": n + every(7),
        "string": n,
        "coordinates": every(5),
        "quantity": n,
        "time": n,
    }


def check_export(tally: Tally, db: str, expected: dict[str, int], tag: str) -> None:
    """The DuckDB file holds the 6 tables, the 11 indices and the
    generator's row counts."""
    con = duckdb.connect(db, read_only=True)
    try:
        tables = {
            r[0] for r in con.execute("SELECT table_name FROM duckdb_tables()").fetchall()
        }
        n_idx = con.execute("SELECT count(*) FROM duckdb_indexes()").fetchone()[0]
        rows = {
            t: con.execute(f'SELECT count(*) FROM "{t}"').fetchone()[0]
            for t in sorted(tables & set(TABLE_NAMES))
        }
    finally:
        con.close()
    tally.expect(
        f"{tag}: tables={sorted(tables)} indices={n_idx} rows={rows} want={expected}",
        tables == set(TABLE_NAMES) and n_idx == 11 and rows == expected,
    )


def parquet_counts(root: str) -> dict[str, int]:
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    ]
    out = {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}
    for t in TABLE_NAMES:
        out[t] = sum(
            pq.read_metadata(f).num_rows
            for f in files
            if os.path.basename(os.path.dirname(f)) == t
        )
    return out


def split_confs(spark) -> dict[str, str | None]:
    return {k: spark.conf.get(f"spark.sql.files.{k}", None) for k in SPLIT_CONFS}


def trace_ingest(run: Run, dump: str, out: str, db: str) -> None:
    """Traced run only: the cost each ingest stage adds, each stage
    timed as a noop write of its public function (median of 3), and
    the written output's counts."""
    spark = run.spark

    def lines():
        return sanitize_lines(read_dump_lines(spark, dump))

    stages = {
        "read": lines,
        "parse": lambda: parse_entities(lines()),
        "claims": lambda: exploded_claims(parse_entities(lines())),
    }
    for name, build in stages.items():
        for _ in range(3):
            with run.span(f"ingest.{name}"):
                build().write.format("noop").mode("overwrite").save()
    read, parse, claims = (run.ms(f"ingest.{s}") for s in stages)
    run.layer["ingest.read_ms"] = read
    run.layer["ingest.parse_ms"] = parse - read
    run.layer["ingest.claims_ms"] = claims - parse
    run.layer["ingest.ingest_ms"] = run.ms("ingest.ingest")
    run.layer["ingest.corrupt_lines"] = (
        parse_entities(lines()).filter(F.col("corrupt").isNotNull()).count()
    )
    counts = parquet_counts(out)
    run.layer["ingest.parquet_files"] = counts["files"]
    run.layer["ingest.parquet_bytes"] = counts["bytes"]
    for t in TABLE_NAMES:
        run.layer[f"ingest.rows_{t}"] = counts[t]
    run.layer["duckdb_io.export_ms"] = run.ms("duckdb_io.export")
    run.layer["duckdb_io.db_bytes"] = os.path.getsize(db)


# ---------------------------------------------------------------------------
# workload: ingest_export — dump → six parquet tables → DuckDB file
# ---------------------------------------------------------------------------


def ingest_export(run: Run) -> dict:
    n = run.size["ingest_lines"]
    lo = dump_start(run.args.seed, n)
    dump = run.path("dump.json")
    dump_bytes = write_dump(dump, lo, n)
    expected = expected_rows(lo, n)
    spark = run.spark

    def op(i: int) -> tuple[str, str]:
        out, db = run.path(f"kg{i}"), run.path(f"kg{i}.duckdb")
        with run.span("ingest.ingest"):
            ingest(spark, dump, out)
        with run.span("duckdb_io.export"):
            export_duckdb(out, db)
        return out, db

    run.measuring = False
    op(-1)  # warm-up
    setup_s = run.setup_done()
    run.measuring = True

    db_bytes: list[int] = []

    def after(i: int, result: tuple[str, str]) -> None:
        db_bytes.append(os.path.getsize(result[1]))
        check_export(run.tally, result[1], expected, f"op {i}")

    lat = run.loop(op, after, min_ops=INGEST_MIN_OPS)
    if run.trace:
        trace_ingest(run, dump, run.path("kg0"), run.path("kg0.duckdb"))
    run.detail.update(
        {
            "lines": n,
            "dump_bytes": dump_bytes,
            "ingest_lines_per_s": n * len(lat) / sum(lat),
            "ingest_p50_ms": run.ms("ingest.ingest"),
            "export_p50_ms": run.ms("duckdb_io.export"),
            "db_bytes_ratio": statistics.median(db_bytes) / dump_bytes if db_bytes else 0,
            "ops": len(lat),
        }
    )
    # One client, so lines completed per second of measured op time is
    # the reciprocal of the mean op time: near-reciprocal to the
    # median, as every op does the same work.
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": n * len(lat) / sum(lat),
        "op_p50_ms": median_ms(lat),
    }
    return run.finish(e2e, lat)


# ---------------------------------------------------------------------------
# workload: kg_query — point lookups, 2-hop traversals and a join scan
# over the tables ingest just wrote, in the same session
# ---------------------------------------------------------------------------


def kg_ops(rng: random.Random, lo: int, n: int):
    """Endless seeded op stream in rounds of ``KG_ROUND`` (so every run
    has the same mix) in seeded order with seeded parameters."""
    while True:
        shapes = list(KG_ROUND)
        rng.shuffle(shapes)
        for shape in shapes:
            if shape == "lookup_dst":
                k = rng.randint(1, 1000)  # P31 targets
            elif shape == "traverse":
                k = rng.randrange(97)
            elif shape == "scan":
                k = rng.randrange(8)
            else:
                k = rng.randint(lo + 1, lo + n)
            yield shape, k


def kg_query(run: Run) -> dict:
    n = run.size["kg_lines"]
    lo = dump_start(run.args.seed, n)
    dump = run.path("dump.json")
    write_dump(dump, lo, n)
    spark = run.spark
    out, db = run.path("kg"), run.path("kg.duckdb")
    confs_before = split_confs(spark)
    with run.span("ingest.ingest"):
        ingest(spark, dump, out)
    confs_after = split_confs(spark)
    with run.span("views.register"):
        t = register_views(spark, out)
    with run.checking(), run.span("duckdb_io.export"):
        export_duckdb(out, db)

    ops = kg_ops(run.rng, lo, n)

    def op(shape: str, k: int):
        if shape == "traverse":
            start = t["vertex"].select("id").where(F.col("id") % 97 == k)
            with run.span("graph.k_hop"):
                frontier = k_hop(t["edge"], start, 2)
                frontier.count()
            return frontier
        kind = "scan" if shape == "scan" else "lookup"
        with run.span(f"views.{kind}.build"):
            df = spark.sql(KG_SQL[shape].format(k=k))
            df._jdf.queryExecution().executedPlan()
        with run.span(f"views.{kind}.run"):
            return df.collect()

    run.measuring = False
    for _ in KG_ROUND:  # warm-up: one round
        shape, k = next(ops)
        result = op(shape, k)
        if shape == "traverse":
            result.unpersist()
    setup_s = run.setup_done()
    run.measuring = True

    issued: list[tuple[str, int]] = []
    first: dict[str, tuple[int, list, list]] = {}

    def measured(i: int):
        issued.append(next(ops))
        return op(*issued[-1])

    def after(i: int, result) -> None:
        shape, k = issued[i]
        if shape == "traverse":
            if shape not in first:
                first[shape] = (i, ["id"], [tuple(r) for r in result.collect()])
            result.unpersist()
        elif shape not in first:
            cols = list(result[0].__fields__) if result else []
            first[shape] = (i, cols, [tuple(r) for r in result])

    lat = run.loop(
        measured,
        after,
        whole=lambda: len(issued) % len(KG_ROUND) == 0
        and (run.trace or len(issued) >= KG_MIN_ROUNDS * len(KG_ROUND)),
    )
    con = duckdb.connect(db, read_only=True)
    try:
        for shape, (i, cols, rows) in sorted(first.items()):
            k = issued[i][1]
            sql = KG_SQL[shape].format(k=k)
            res = con.execute(DUCK_TRIPLES + sql if shape == "scan" else sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            if not cols:  # empty Spark answer carries no column names
                cols = dcols
            run.tally.expect(
                f"op {i} {shape}({k}): {len(rows)} rows vs duckdb {len(drows)}",
                same_answer(cols, rows, dcols, drows),
            )
    finally:
        con.close()

    kinds = [shape.split("_")[0] for shape, _k in issued]
    p50 = p50_by_kind(kinds, lat)
    lookups = [dt for kind, dt in zip(kinds, lat) if kind == "lookup"]
    run.detail.update(
        {
            "lines": n,
            "ops": len(lat),
            "kg_ops_per_s": len(lat) / sum(lat),
            "lookup_p50_ms": p50["lookup"],
            "lookup_p90_ms": statistics.quantiles(lookups, n=10)[-1] * 1000.0
            if len(lookups) > 1
            else median_ms(lookups),
            "traverse_p50_ms": p50["traverse"],
            "scan_p50_ms": p50["scan"],
            "split_confs_before_ingest": confs_before,
            "split_confs_after_ingest": confs_after,
            "checked_shapes": sorted(first),
        }
    )
    if run.trace:
        trace_ingest(run, dump, out, db)
        run.layer["views.register_ms"] = run.ms("views.register")
        run.layer["views.lookup_build_ms"] = run.ms("views.lookup.build")
        run.layer["views.lookup_run_ms"] = run.ms("views.lookup.run")
        run.layer["views.scan_ms"] = run.ms("views.scan.build") + run.ms("views.scan.run")
        run.layer["graph.k_hop_ms"] = run.ms("graph.k_hop")
    # op_p50_ms weighs the three op types the same: the geometric mean
    # of their p50s. Lookups are most of the ops, so the p50 over all
    # ops would be the lookup p50 alone.
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(lat) / sum(lat),
        "op_p50_ms": statistics.geometric_mean(p50.values()),
    }
    return run.finish(e2e, lat)


# ---------------------------------------------------------------------------
# workload: analytics_mix — 16 headline queries, one per heavy module
# ---------------------------------------------------------------------------


def check_query(tally: Tally, con, name: str, cols, rows, oracles: dict[str, str]) -> None:
    """One query answer against DuckDB over the same tables: the
    registered oracle where there is one; for the two engine-defined
    queries, exact row keys plus a bound the answer must respect."""
    if name in oracles:
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        ok = same_answer(cols, rows, dcols, drows)
    elif name == "hll_distinct_rollup":
        exact = {
            r[0]: r[1:]
            for r in con.execute(
                "SELECT source, count(DISTINCT doc_id), count(*), count(DISTINCT lang) "
                "FROM documents GROUP BY source"
            ).fetchall()
        }
        got = {r[cols.index("source")]: r for r in rows}
        ok = got.keys() == exact.keys() and all(
            abs(got[s][cols.index("approx_docs")] - d) <= 0.05 * d + 1
            and got[s][cols.index("n_rows")] == n
            and got[s][cols.index("n_leaf_sketches")] == leaves
            for s, (d, n, leaves) in exact.items()
        )
    elif name == "token_count_real_bpe":
        # each word is at least one token and at most one per letter
        bounds = con.execute(
            "SELECT doc_id, len(string_split(trim(text), ' ')), "
            "length(replace(text, ' ', '')) FROM documents ORDER BY doc_id"
        ).fetchall()
        got = sorted(rows)
        ok = len(got) == len(bounds) and all(
            d == g[0] and lo <= g[1] <= hi for (d, lo, hi), g in zip(bounds, got)
        )
    else:
        raise KeyError(f"no check for {name}")
    tally.expect(f"{name}: {len(rows)} rows disagree with DuckDB", ok)


def analytics_mix(run: Run) -> dict:
    sf = run.path("tables")
    write_tables(sf, TABLE_SEED, run.size["scale"])
    spark = run.spark
    queries, oracles = all_queries(), all_oracles()
    order = list(MIX)

    def cold(q: str) -> tuple[str, list[str], list[tuple]]:
        df = queries[q](spark, sf)
        return q, df.columns, [tuple(r) for r in df.collect()]

    def warm(q: str) -> None:
        queries[q](spark, sf).write.format("noop").mode("overwrite").save()

    # Warm-up: two passes run one query per core at a time, which warms
    # the JIT in less wall time than serial passes. The first pass is
    # cold; its answers are the ones checked.
    run.rng.shuffle(order)
    names = [q for _m, q in order]
    with ThreadPoolExecutor(max_workers=int(os.environ["SPARK_GRAFT_CPUS"])) as pool:
        answers = list(pool.map(cold, names))
        spark.catalog.clearCache()
        list(pool.map(warm, names))
    spark.catalog.clearCache()
    run.tally.attempted += len(answers)
    with run.checking():
        con = duckdb.connect()
        try:
            for name in MIX_TABLES:
                con.execute(oracle_view_sql(name, f"{sf}/{name}.parquet"))
            for q, cols, rows in answers:
                check_query(run.tally, con, q, cols, rows, oracles)
        finally:
            con.close()
    setup_s = run.setup_done()

    passes: list[float] = []
    pending: list[tuple[str, str]] = []
    issued: list[str] = []

    def op(i: int) -> None:
        if not pending:
            run.rng.shuffle(order)
            pending.extend(order)
            passes.append(0.0)
        _m, q = pending.pop(0)
        issued.append(q)
        t0 = time.perf_counter()
        try:
            with run.span(f"{q}.build"):
                df = queries[q](spark, sf)
            with run.span(f"{q}.run"):
                df.write.format("noop").mode("overwrite").save()
        finally:
            spark.catalog.clearCache()
            passes[-1] += time.perf_counter() - t0

    lat = run.loop(
        op, whole=lambda: not pending and (run.trace or len(passes) >= MIX_MIN_PASSES)
    )
    for m, q in MIX:
        run.layer[f"{m}.{q}.build_ms"] = run.ms(f"{q}.build")
        run.layer[f"{m}.{q}.run_ms"] = run.ms(f"{q}.run")
    run.detail.update(
        {
            "queries": len(lat),
            "passes": len(passes),
            "mix_pass_s": statistics.median(passes),
            "pass_s": passes,
            "query_ms": {
                q: [
                    (b + r) * 1000.0
                    for b, r in zip(run.durations[f"{q}.build"], run.durations[f"{q}.run"])
                ]
                for _m, q in MIX
            },
        }
    )
    # As on kg_query, every query weighs the same in op_p50_ms: the
    # p50 over all ops would be whichever query sorts into the middle.
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(MIX) / statistics.median(passes),
        "op_p50_ms": statistics.geometric_mean(p50_by_kind(issued, lat).values()),
    }
    return run.finish(e2e, lat)


WORKLOADS = {
    "ingest_export": ingest_export,
    "kg_query": kg_query,
    "analytics_mix": analytics_mix,
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True, help="empty scratch directory")
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = p.parse_args(argv)
    run = Run(args)
    metrics = WORKLOADS[args.workload](run)
    tally = run.tally
    print(
        json.dumps(
            {"workload": args.workload, "detail": run.detail, "failures": tally.failures}
        )
    )
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
