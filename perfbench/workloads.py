"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned. BENCHMARK.json
lists the two the regression runs use; ``corpus_curation`` runs on
request (see README.md for why).

Every workload takes a :class:`Harness` (operation bookkeeping, optional
tracing), the seed, the measuring time and a scratch directory, and
returns its end-to-end figures, the per-layer extras only it can
measure, and the outcome of its correctness checks.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

import gen
import host
import measure
from tracing import COUNTERS, SparkCounters, Tracer, union_length

# Sizes (see BENCHMARK.json "workloads" for the reasoning).
DASHBOARD_SF = 0.001
ETL_SF = 0.001
ETL_REFRESHES = 3
ETL_DELTA_ROWS = 200
CORPUS_DOCS = 1000
# A warm round takes about this long on the reference host. The number
# of timed rounds comes from --seconds and this constant, never from the
# clock, so every run times the same queries.
DASHBOARD_ROUND_S = 10.0

# Rows that fit, refresh or probe while they are built: not a read path.
DASHBOARD_EXCLUDED = (
    "ext_matview_incremental", "ext_logreg_fit", "ext_quality_gate",
    "ext_fuzzy_pairs",
)
DASHBOARD_MODULES = ("relational", "pipelines", "streaming_batch", "extensions")


class Harness:
    """Runs operations, counts attempts and failures, and in a traced
    run sums each layer's work over the timed operations."""

    def __init__(self, spark, tracer: Tracer | None, nproc: int, t_start: float) -> None:
        self.spark, self.tracer, self.nproc = spark, tracer, nproc
        self.traced = tracer is not None
        self.t_start = t_start
        self.setup_s: float | None = None
        self.attempted = self.failed = self.timed_ops = 0
        self.counters = SparkCounters(spark) if self.traced else None
        self.layer: dict[str, float] = {}
        self.cached_after: list[int] = []
        self.sampler: host.SpeedSampler | None = None
        self._seq = 0

    def start_timing(self) -> None:
        """Set-up ends here and the timed phase, sampled for host speed,
        begins."""
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - self.t_start
            self.sampler = host.SpeedSampler()

    def stop_timing(self) -> None:
        if self.sampler is not None:
            self.sampler.stop()

    def _cpu(self) -> float:
        return host.tree_cpu_s(skip=self.sampler.proc.pid if self.sampler else None)

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    @contextmanager
    def op(self, label: str, timed: bool = True):
        """One operation under its own Spark job group. The body fills
        ``rec``; an exception marks the operation failed."""
        self._seq += 1
        op_id = f"perfbench-{self._seq}-{label}"
        self.spark.sparkContext.setJobGroup(op_id, label)
        since = 0
        if self.tracer is not None:
            self.tracer.op = op_id
            since = len(self.tracer.spans)
        rec: dict = {"ok": False}
        self.attempted += 1
        cpu0 = self._cpu()
        jit0 = host.jit_cpu_s()
        t0 = time.perf_counter()
        try:
            yield rec
            rec["ok"] = True
        except Exception:  # noqa: BLE001  (counted, reported, run goes on)
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["jit"] = host.jit_cpu_s() - jit0
            rec["cpu"] = self._cpu() - cpu0 - rec["jit"]
            if self.traced:
                self._account(rec, since, timed)

    def _account(self, rec: dict, since: int, timed: bool) -> None:
        counts, intervals = self.counters.collect(time.time() * 1e3)
        if not timed:
            return
        self.timed_ops += 1
        tr = self.tracer
        for k in COUNTERS:
            self.add(f"spark.{k}", counts[k])
        self.add("jvm.jit_cpu_s", rec["jit"])
        self.add("spark.core_idle_ms",
                 max(0.0, rec["wall"] * 1e3 * self.nproc - counts["executor_run_ms"]))
        self.cached_after.append(self.counters.cached_bytes())
        if "arrow_window" in rec:
            a0, a1 = rec["arrow_window"]
            self.add("export.arrow_s", (a1 - a0) - union_length(intervals, a0, a1))
        if "build_s" in rec:
            self.add("queries.build_s", rec["build_s"])
        if "delta_rows" in rec:
            self.add("matview.scanned", counts["input_rows"])
            self.add("matview.folded", rec["delta_rows"])
        memo = tr.outer("queries.memo_chain", since)
        self.add("memo.calls", len(memo))
        self.add("memo.hits", sum(1 for s in memo if s.attrs.get("hit")))
        self.add("catalog.load_table_calls", tr.count("catalog.load_table", since))
        self.add("catalog.load_table_s", tr.total("catalog.load_table", since))
        self.add("pipelines.reference_etl.build_s",
                 tr.total("pipelines.reference_etl.build", since))
        self.add("pipelines.matview.refresh_s", tr.total("pipelines.matview.refresh", since))
        self.add("pipelines.matview.repair_probes",
                 tr.count("pipelines.matview.repair_probe", since))
        self.add("sources.watermark.commits", tr.count("sources.watermark.commit", since))
        self.add("operators.quality.check_s", tr.total("operators.quality.check", since))
        self.add("text.call_s", tr.total("text.call", since))
        mats = [s for s in tr.spans[since:] if s.name == "util.materialize"]
        self.add("util.materialize_calls", len(mats))
        self.add("util.materialize_eager", sum(1 for s in mats if s.attrs.get("eager")))
        sinks = tr.outer("sinks.publish", since)
        self.add("sinks.publish_s", sum(s.end - s.start for s in sinks))
        self.add("sinks.bytes_written", sum(s.attrs.get("bytes", 0) for s in sinks))
        self.add("sinks.files_written", sum(s.attrs.get("files", 0) for s in sinks))

    def per_layer(self, extra: dict) -> dict:
        """Per timed operation, except ratios and end-of-run gauges."""
        n = max(self.timed_ops, 1)
        lay = self.layer
        out = {k: v / n for k, v in lay.items() if "." in k and not k.startswith(("memo.", "matview."))}
        out["queries.memo_hit_ratio"] = lay.get("memo.hits", 0) / max(lay.get("memo.calls", 0), 1)
        out["pipelines.matview.rows_scanned_per_folded"] = (
            lay.get("matview.scanned", 0) / lay["matview.folded"] if lay.get("matview.folded") else 0.0
        )
        out["spark.cached_bytes_after"] = (
            sum(self.cached_after) / len(self.cached_after) if self.cached_after else 0.0
        )
        out.update(extra)
        return out


def _digest(table) -> str:
    """Order-insensitive digest of an Arrow table."""
    rows = sorted(repr(sorted(r.items())) for r in table.to_pylist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


class _Exported:
    """An exported Arrow result in the shape ``assert_matches_oracle``
    reads (``columns`` and ``collect()``), so the oracle check compares
    what the timed round returned without running the query again."""

    def __init__(self, table) -> None:
        self.table, self.columns = table, table.column_names

    def collect(self):
        return self.table


def _oracle_module(root: str):
    sys.path.insert(0, os.path.join(root, "tools"))
    import oracle_check

    return oracle_check


# -- dashboard_queries -------------------------------------------------------

def dashboard_rows() -> list[str]:
    from clickhouse_etl_spark.queries import QUERIES

    out = []
    for name, fn in QUERIES.items():
        module = getattr(fn, "__wrapped__", fn).__module__.rsplit(".", 1)[-1]
        if module in DASHBOARD_MODULES and name not in DASHBOARD_EXCLUDED:
            out.append(name)
    return out


def dashboard_queries(h: Harness, seed: int, seconds: float, work: str, root: str) -> dict:
    from clickhouse_etl_spark.queries import ORACLE_SQL, QUERIES

    data = os.path.join(work, "data")
    os.makedirs(data)
    gen.write_tables(gen.warehouse_tables(seed, DASHBOARD_SF), data)
    rows = dashboard_rows()
    rounds = max(1, int(seconds // DASHBOARD_ROUND_S))
    orders = gen.round_orders(seed, rows, 1 + rounds)
    digests: dict[str, set] = {n: set() for n in rows}
    last: dict = {}

    def run_round(order: list[str], timed: bool, lat: list[float], cpu: list[float]) -> None:
        for name in order:
            with h.op(name, timed=timed) as rec:
                t0 = time.perf_counter()
                df = QUERIES[name](h.spark, data)
                rec["build_s"] = time.perf_counter() - t0
                a0 = time.time()
                table = df.toArrow()
                rec["arrow_window"] = (a0, time.time())
            if rec["ok"]:
                lat.append(rec["wall"])
                cpu.append(rec["cpu"])
                digests[name].add(_digest(table))
                last[name] = table

    t_cold = time.perf_counter()
    cold_cpu: list[float] = []
    run_round(orders[0], timed=False, lat=[], cpu=cold_cpu)  # warm-up: part of set-up
    cold_s = time.perf_counter() - t_cold
    h.start_timing()
    lat: list[float] = []
    cpu: list[float] = []
    t0 = time.perf_counter()
    for i in range(1, rounds + 1):
        run_round(orders[i], timed=True, lat=lat, cpu=cpu)
    elapsed = time.perf_counter() - t0
    h.stop_timing()

    oracle = _oracle_module(root)
    failures = [f"{n}: result changed between rounds" for n, d in digests.items() if len(d) > 1]
    for name in rows:
        if name not in last:
            failures.append(f"{name}: no result")
            continue
        try:
            oracle.assert_matches_oracle(_Exported(last[name]), ORACLE_SQL[name], data)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: {str(exc).splitlines()[0][:160]}")
    return {
        "e2e": {
            "query_p50_s": (measure.median(lat), "s"),
            "query_p90_s": (measure.percentile(lat, 90), "s"),
            "queries_per_min": (len(lat) / elapsed * 60.0, "1/min"),
            "cold_round_s": (cold_s, "s"),
        },
        "op_s": lat,
        "op_cpu_s": cpu,
        "cold_cpu_s": sum(cold_cpu),
        "notes": {"rows": len(rows), "rounds": rounds, "samples": len(lat)},
        "layer": {},
        "checks": {"oracle_and_round_stable": failures},
    }


# -- nightly_etl -------------------------------------------------------------

def nightly_etl(h: Harness, seed: int, seconds: float, work: str, root: str) -> dict:
    from pyspark.sql import functions as F

    from clickhouse_etl_spark.operators.quality import (
        check_expectations, in_range, not_null, unique,
    )
    from clickhouse_etl_spark.pipelines import MaterializedView
    from clickhouse_etl_spark.pipelines import reference_etl as etl
    from clickhouse_etl_spark.sinks.staging import publish_snapshot, read_current
    from clickhouse_etl_spark.sinks.writers import write_mergetree_mapped

    spark = h.spark
    data, incoming, landing = (os.path.join(work, d) for d in ("data", "incoming", "landing"))
    wh_root = os.path.join(work, "warehouse")
    for d in (data, incoming, landing, wh_root):
        os.makedirs(d)
    tables = gen.warehouse_tables(seed, ETL_SF)
    gen.write_tables(tables, data)
    deltas = gen.score_deltas(
        seed, ETL_REFRESHES, ETL_DELTA_ROWS, tables["customer"].num_rows,
        tables["supplier"].num_rows, first_score_id=10**12,
    )
    import pyarrow.parquet as pq

    for i, d in enumerate(deltas):
        pq.write_table(d, os.path.join(incoming, f"delta-{i:03d}.parquet"))
    roots = {k: os.path.join(wh_root, k) for k in ("students", "fact", "transcript", "scores_by_eval")}
    rules = [
        not_null("studentId"), not_null("subjectEvaluationId"),
        unique("subjectEvaluationId", "studentId"), in_range("gpa", 0.0, 4.0),
    ]

    wh = etl.synthetic_warehouse(spark, data)
    dims = (wh["students"], wh["structures"], wh["subject_dim"])

    def all_scores(s):
        landed = sorted(os.listdir(landing))
        if not landed:
            return wh["scores"]
        return wh["scores"].unionByName(s.read.parquet(landing))

    def view_source(s):
        return all_scores(s).select(
            "evaluationId", F.col("score").alias("s"), F.col("markedAt").alias("ts")
        )

    def make_view(table_root):
        return MaterializedView(
            name="scores_by_eval", table_root=table_root, source=view_source,
            keys=["evaluationId"], ts_col="ts", strategy="summing", sum_cols=["s"],
        )

    view = make_view(roots["scores_by_eval"])
    violations: dict = {}
    h.start_timing()
    with h.op("etl_full") as rec:
        students = etl.copy_entity(
            wh["students"].withColumn("updatedAt", F.current_timestamp()), key="studentId"
        )
        fact = etl.monthly_subject_fact(wh["evaluations"], wh["scores"], *dims)
        transcript = etl.student_transcript(
            wh["evaluations"], wh["scores"], *dims, include_details=False
        )
        gate = check_expectations(fact, rules)
        violations["full"] = {r["rule"]: r["n_violations"] for r in gate.collect()}
        write_mergetree_mapped(students, roots["students"], partition_by="schoolId",
                               order_by=["studentId"])
        publish_snapshot(fact, roots["fact"], version=f"{0:020d}")
        publish_snapshot(transcript, roots["transcript"], version=f"{0:020d}")
        view.refresh_full(spark)
    etl_full_s, cold_cpu_s = rec["wall"], rec["cpu"]

    before = measure.tree_bytes(wh_root)[0]
    arrived, refresh_s, refresh_cpu = 0, [], []
    for i in range(ETL_REFRESHES):
        name = f"delta-{i:03d}.parquet"
        with h.op("refresh") as rec:
            os.replace(os.path.join(incoming, name), os.path.join(landing, name))
            arrived += os.path.getsize(os.path.join(landing, name))
            rec["delta_rows"] = deltas[i].num_rows
            new = spark.read.parquet(os.path.join(landing, name))
            scores = all_scores(spark)
            version = f"{i + 1:020d}"
            fact_i = etl.monthly_subject_fact_incremental(
                wh["evaluations"], scores, new, read_current(spark, roots["fact"]), *dims
            )
            publish_snapshot(fact_i, roots["fact"], version=version)
            tr_i = etl.student_transcript_incremental(
                wh["evaluations"], scores, new, read_current(spark, roots["transcript"]),
                *dims, include_details=False,
            )
            publish_snapshot(tr_i, roots["transcript"], version=version)
            view.refresh_incremental(spark)
        if rec["ok"]:
            refresh_s.append(rec["wall"])
            refresh_cpu.append(rec["cpu"])
    h.stop_timing()
    after = measure.tree_bytes(wh_root)[0]
    versions = sum(len([v for v in os.listdir(r) if v.startswith("v=")])
                   for r in roots.values() if os.path.isdir(r))
    space = measure.space_amp(wh_root, list(roots.values()))

    # Checks: the incremental state equals a full rebuild over the final
    # source state, and the quality gate finds nothing.
    oracle = _oracle_module(root)
    failures = []

    def same(name, got, want):
        if oracle.canon_rows(got.columns, got.collect()) != oracle.canon_rows(
            want.columns, want.collect()
        ):
            failures.append(f"{name}: incremental != full rebuild")

    final = all_scores(spark)
    same("fact", read_current(spark, roots["fact"]),
         etl.monthly_subject_fact(wh["evaluations"], final, *dims))
    same("transcript", read_current(spark, roots["transcript"]),
         etl.student_transcript(wh["evaluations"], final, *dims, include_details=False))
    rebuilt = make_view(os.path.join(work, "view_rebuild"))
    rebuilt.refresh_full(spark)
    same("view", view.read(spark), rebuilt.read(spark))
    gate = check_expectations(read_current(spark, roots["fact"]), rules)
    violations["final"] = {r["rule"]: r["n_violations"] for r in gate.collect()}
    for when, v in violations.items():
        if any(v.values()):
            failures.append(f"quality gate ({when}): {v}")
    if len(refresh_s) != ETL_REFRESHES:
        failures.append("a refresh failed")
    return {
        "e2e": {
            "etl_full_s": (etl_full_s, "s"),
            "refresh_p50_s": (measure.median(refresh_s), "s"),
            "write_amp": (measure.write_amp(before, after, arrived), "ratio"),
            "space_amp": (space, "ratio"),
        },
        "op_s": refresh_s,
        "op_cpu_s": refresh_cpu,
        "cold_cpu_s": cold_cpu_s,
        "notes": {"refreshes": len(refresh_s), "delta_rows": ETL_DELTA_ROWS,
                  "delta_bytes": arrived},
        "layer": {"sinks.versions_on_disk": versions, "sinks.space_amp": space,
                  "sinks.write_amp": measure.write_amp(before, after, arrived)},
        "checks": {"incremental_equals_full_and_gate_clean": failures},
    }


# -- corpus_curation ---------------------------------------------------------

CURATE_SETTINGS = dict(
    split_weights={"train": 0.95, "val": 0.05},
    url_col="url",
    domain_blocklist=["src0.example.com"],
)


def corpus_curation(h: Harness, seed: int, seconds: float, work: str, root: str) -> dict:
    import pyarrow.parquet as pq

    from clickhouse_etl_spark.text import curate_corpus

    src = os.path.join(work, "corpus.parquet")
    corpus = gen.corpus_table(seed, CORPUS_DOCS)
    pq.write_table(corpus, src)
    h.start_timing()
    out_root = os.path.join(work, "curated")
    pass_s, pass_cpu, outs = [], [], []
    t0 = time.perf_counter()
    while not pass_s or time.perf_counter() - t0 < seconds:
        out = os.path.join(out_root, f"pass-{len(outs)}")
        with h.op("curate") as rec:
            docs = h.spark.read.parquet(src)
            cur = curate_corpus(docs, **CURATE_SETTINGS)
            cur.corpus.write.mode("overwrite").parquet(out)
        outs.append(out)
        if not rec["ok"]:
            break
        pass_s.append(rec["wall"])
        pass_cpu.append(rec["cpu"])
    h.stop_timing()

    failures, hashes, kept = [], set(), 0.0
    in_ids = set(corpus.column("doc_id").to_pylist())
    for out in outs:
        if not os.path.isdir(out):
            failures.append(f"{os.path.basename(out)}: no output")
            continue
        table = pq.read_table(out).select(["doc_id", "text", "split"])
        ids = table.column("doc_id").to_pylist()
        if len(ids) != len(set(ids)):
            failures.append("duplicate doc_id in output")
        if not set(ids) <= in_ids:
            failures.append("output doc_id not in input")
        hashes.add(_digest(table))
        kept = len(ids) / corpus.num_rows
        shutil.rmtree(out, ignore_errors=True)
    if len(hashes) > 1:
        failures.append("curated output differs between passes")
    return {
        "e2e": {"docs_per_s": (CORPUS_DOCS / measure.median(pass_s) if pass_s else None,
                               "docs/s")},
        "op_s": pass_s,
        "op_cpu_s": pass_cpu,
        "cold_cpu_s": pass_cpu[0] if pass_cpu else None,
        "notes": {"passes": len(pass_s), "docs": CORPUS_DOCS,
                  "output_hash": sorted(hashes)[0] if hashes else None},
        "layer": {"text.kept_ratio": kept},
        "checks": {"corpus_dedup_subset_stable": failures},
    }


WORKLOADS = {
    "dashboard_queries": dashboard_queries,
    "nightly_etl": nightly_etl,
    "corpus_curation": corpus_curation,
}
