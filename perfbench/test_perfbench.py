"""The benchmark's own tests: input determinism and metric arithmetic.

    python3 -m pytest perfbench -q

No Spark session is started; everything here is pure Python.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import host  # noqa: E402
import measure  # noqa: E402
from tracing import Span, Tracer, self_times, union_length  # noqa: E402


@pytest.mark.parametrize("seed", [1, 2, 12345])
def test_warehouse_tables_are_a_function_of_the_seed(seed):
    a = gen.warehouse_tables(seed, 0.001)
    b = gen.warehouse_tables(seed, 0.001)
    other = gen.warehouse_tables(seed + 1, 0.001)
    assert set(a) == {
        "region", "nation", "supplier", "customer", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert gen.table_digest(a[name]) == gen.table_digest(b[name]), name
    assert gen.table_digest(a["lineitem"]) != gen.table_digest(other["lineitem"])
    li = a["lineitem"].to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert li["l_orderkey"].max() < a["orders"].num_rows


@pytest.mark.parametrize("seed", [1, 2, 12345])
def test_corpus_is_a_function_of_the_seed_and_has_duplicates(seed):
    a, b = gen.corpus_table(seed, 400), gen.corpus_table(seed, 400)
    assert gen.table_digest(a) == gen.table_digest(b)
    assert gen.table_digest(a) != gen.table_digest(gen.corpus_table(seed + 1, 400))
    texts = a.column("text").to_pylist()
    urls = [u.split("?")[0].split("#")[0].replace("http://", "https://")
            for u in a.column("url").to_pylist()]
    assert len(set(texts)) < len(texts)  # exact duplicates
    assert len(set(urls)) < len(urls)  # re-fetch variants


@pytest.mark.parametrize("seed", [1, 2, 12345])
def test_score_deltas_are_seeded_and_land_past_every_watermark(seed):
    a = gen.score_deltas(seed, 3, 50, 150, 25, first_score_id=10**12)
    b = gen.score_deltas(seed, 3, 50, 150, 25, first_score_id=10**12)
    assert [gen.table_digest(t) for t in a] == [gen.table_digest(t) for t in b]
    base_max = gen.warehouse_tables(seed, 0.001)["lineitem"].column("l_shipdate")
    last = max(base_max.to_pylist())
    for batch in a:
        ts = batch.column("markedAt").to_pylist()
        assert min(ts) > last
        last = max(ts)
    ids = [i for t in a for i in t.column("scoreId").to_pylist()]
    assert len(ids) == len(set(ids))


def test_round_orders_are_seeded_permutations():
    names = [f"q{i}" for i in range(32)]
    a, b = gen.round_orders(7, names, 5), gen.round_orders(7, names, 5)
    assert a == b
    assert all(sorted(r) == sorted(names) for r in a)
    assert a != gen.round_orders(8, names, 5)


def test_no_p90_from_fewer_than_100_samples():
    assert measure.min_samples(90) == 100
    assert measure.min_samples(99) == 1000
    values = [float(i) for i in range(1, 100)]
    assert measure.percentile(values, 90) is None
    values.append(100.0)
    assert measure.percentile(values, 90) == 90.0
    assert measure.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert measure.percentile([], 50) is None


def _write(path, size):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"x" * size)


def test_write_and_space_amp_on_a_toy_warehouse(tmp_path):
    root = str(tmp_path / "wh")
    _write(f"{root}/fact/v=0/part-0.parquet", 1000)
    _write(f"{root}/dim/part-0.parquet", 200)  # no _CURRENT: counts whole
    with open(f"{root}/fact/_CURRENT", "w") as fh:
        fh.write("v=0")
    before = measure.tree_bytes(root)[0]
    assert before == 1203
    # A refresh writes a new 1500-byte version for a 50-byte delta.
    _write(f"{root}/fact/v=1/part-0.parquet", 1500)
    with open(f"{root}/fact/_CURRENT", "w") as fh:
        fh.write("v=1")
    after = measure.tree_bytes(root)[0]
    assert measure.write_amp(before, after, 50) == 1500 / 50
    assert measure.current_snapshot_bytes([f"{root}/fact", f"{root}/dim"]) == 1700
    assert measure.space_amp(root, [f"{root}/fact", f"{root}/dim"]) == 2703 / 1700
    assert measure.tree_bytes(root)[1] == 4


def test_speed_sampler_rescales_by_the_mean_probe_and_stops():
    sampler = host.SpeedSampler()
    cpu0 = host.tree_cpu_s(skip=sampler.proc.pid)
    time.sleep(0.6)
    # While it runs, the sampler is not charged to this process's tree.
    assert host.tree_cpu_s(skip=sampler.proc.pid) - cpu0 < 0.05
    sampler.stop()
    assert sampler.proc.returncode == 0
    assert len(sampler.samples) >= 2
    mean = sum(sampler.samples) / len(sampler.samples)
    assert sampler.factor() == pytest.approx(host.REF_PROBE_S / mean)
    sampler.samples = []
    assert sampler.factor() == 1.0


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert union_length([], 0, 1) == 0
    assert union_length([(2, 1)], 0, 5) == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6
        Span("c", 2.0, 3.0, parent=1),
        Span("d", 8.0, 12.0, parent=0),  # overruns the parent: clipped
    ]
    assert self_times(spans) == [10.0 - 5.0 - 2.0, 3.0 - 1.0, 3.0, 1.0, 4.0]


def test_tracer_totals_count_outermost_spans_once():
    tr = Tracer()
    outer = tr.begin("build")
    inner = tr.begin("build")
    tr.end(inner)
    tr.end(outer)
    other = tr.begin("load")
    tr.end(other)
    assert len(tr.outer("build")) == 1
    assert tr.count("build") == 2
    assert tr.total("build") == pytest.approx(tr.spans[0].end - tr.spans[0].start)
    assert [d["parent"] for d in tr.dump()] == [None, 0, None]


def test_install_reaches_functions_imported_by_name(tmp_path):
    """Wrappers reach ``from x import f`` bindings in other modules."""
    code = f"""
import sys
sys.path.insert(0, {os.path.dirname(HERE)!r}); sys.path.insert(0, {HERE!r})
import tracing
tr = tracing.Tracer()
tracing.install(tr)
from clickhouse_etl_spark import queries
from clickhouse_etl_spark.queries import pipelines
assert pipelines.memo_chain is queries.memo_chain
assert pipelines.memo_chain.__wrapped__.__module__ == "clickhouse_etl_spark.queries"
from clickhouse_etl_spark.sources.watermark import WatermarkLedger
WatermarkLedger({str(tmp_path / 'wm.jsonl')!r}).commit("p", "2024-01-01T00:00:00")
assert [s.name for s in tr.spans] == ["sources.watermark.commit"], tr.spans
"""
    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "clickhouse_etl_spark")):
        pytest.skip("library not in this checkout")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True)
    assert out.returncode == 0, out.stderr
