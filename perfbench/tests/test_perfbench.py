"""Tests of the benchmark's pure helpers and output checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
from pathlib import Path

import pytest

import catalog_lookup as C
import harness
import lakehouse_rw as L
import llm_curate as M
import metrics
import tracing

ROOT = Path(__file__).resolve().parents[2]


# -- statistics -----------------------------------------------------------------


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert harness.percentile(xs, 0.5) == 50
    assert harness.percentile(xs, 0.9) == 90
    assert harness.percentile(xs, 1.0) == 100
    assert harness.percentile([3.0], 0.75) == 3.0


def test_tail_needs_ten_samples_beyond():
    for q in (0.5, 0.6, 0.75, 0.9):
        n = harness.min_samples(q)
        assert harness.samples_beyond(n, q) >= harness.TAIL_BEYOND
        assert harness.samples_beyond(n - 1, q) < harness.TAIL_BEYOND
    assert harness.min_samples(0.9) == 100
    assert harness.min_samples(0.75) == 40


def test_interquartile_mean_drops_a_quarter_from_each_end():
    assert harness.interquartile_mean([1.0, 2.0, 3.0, 100.0]) == 2.5
    assert harness.interquartile_mean([5.0, 1.0, 3.0]) == 3.0
    assert harness.interquartile_mean([7.0]) == 7.0
    with pytest.raises(ValueError):
        harness.interquartile_mean([])


def test_median():
    assert harness.median([3, 1, 2]) == 2
    assert harness.median([4, 1, 2, 3]) == 2.5


# -- tracing --------------------------------------------------------------------


def _span(i, start, end, parent=None):
    return tracing.Span(i, f"s{i}", start, end, parent, "op-0-0", {})


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        # overlapping children (a pool) cover [4, 8] once
        _span(3, 4.0, 7.0, parent=1),
        _span(4, 5.0, 8.0, parent=1),
        _span(5, 5.5, 6.0, parent=4),
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(10 - 2 - 4)
    assert st[4] == pytest.approx(3 - 0.5)
    assert st[5] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    spans = [_span(1, 0.0, 2.0), _span(2, 1.5, 3.0, parent=1)]
    assert tracing.self_times(spans)[1] == pytest.approx(1.5)


def test_wrappers_record_nested_spans_only_when_on():
    import types

    mod = types.SimpleNamespace()
    mod.inner = lambda x: [x] * x
    mod.outer = lambda x: len(mod.inner(x)) + 1
    original = mod.inner
    tr = tracing.Tracer()
    tr.wrap(mod, "outer", "outer")
    tr.wrap(mod, "inner", "inner", lambda a, k, r: {"n": len(r)})
    try:
        tr.begin_op("op-0-1", False)
        assert mod.outer(2) == 3
        assert tr.spans == []
        tr.begin_op("op-0-2", True)
        assert mod.outer(3) == 4
        inner, outer = tr.spans
        assert (inner.name, outer.name) == ("inner", "outer")
        assert inner.parent == outer.id and outer.parent is None
        assert inner.counts["n"] == 3 and inner.op == "op-0-2"
    finally:
        tr.unpatch()
    assert mod.inner is original


def test_traced_alternates_per_client():
    assert [tracing.traced(f"op-1-{i}") for i in range(4)] == [
        True, False, True, False]


# -- cache statistics at the seams ------------------------------------------------


def _rec(op_id, start, end, tables, writes=(), refs=1, listing_refs=1):
    return harness.OpRecord(op_id, "read", "", start, start, end, None,
                            refs, listing_refs, tables, writes)


def test_loads_attributed_once_per_op_and_table():
    recs = [_rec("a", 0, 10, ("t1",)), _rec("b", 5, 20, ("t1", "t2"))]
    events = [(6, "t1"), (7, "t1"), (12, "t2"), (30, "t1")]
    # t1 at 6 and 7 both fall in a (earliest) -> one load; t2 -> b; 30 none
    assert harness.attribute_loads(recs, events) == [(6, "t1"), (12, "t2")]


def test_reload_needs_no_write_in_between():
    loads = [(1, "t"), (2, "t"), (5, "t"), (6, "u")]
    writes = [(3, "t")]
    assert harness.count_reloads(loads, writes) == 1


# -- seeded inputs ----------------------------------------------------------------


def test_same_seed_same_catalog_and_ops(tmp_path):
    a = C.build_catalog(tmp_path / "a", 7)
    b = C.build_catalog(tmp_path / "b", 7)
    strip = lambda ts, root: [  # noqa: E731
        (t.name, t.fmt, t.location.replace(str(root), ""), t.files)
        for t in ts
    ]
    assert strip(a, tmp_path / "a") == strip(b, tmp_path / "b")
    assert len(a) == C.N_TABLES > 100  # bigger than the 100-entry caches
    assert {t.fmt for t in a} == set(C.FORMATS)
    files = lambda root: sorted(  # noqa: E731
        str(p.relative_to(root)) for p in root.rglob("*") if p.is_file()
    )
    assert files(tmp_path / "a") == files(tmp_path / "b")
    ops = lambda ts: [  # noqa: E731
        (o.sql, o.expected)
        for b in itertools.islice(C.op_stream(ts, 0), 10) for o in b
    ]
    assert ops(a) == ops(b)
    c = C.build_catalog(tmp_path / "c", 8)
    assert strip(c, tmp_path / "c") != strip(a, tmp_path / "a")
    assert ops(c) != ops(a)


def test_catalog_blocks_have_a_fixed_mix_and_exact_answers():
    tables = [
        C.Table(f"t{i}", fmt, "/x",
                {"": 4} if fmt == "unpartitioned"
                else {f"2024-01-0{d}": d for d in range(1, 6)})
        for i, fmt in enumerate(C.FORMATS)
    ]
    fmt = {t.name: t.fmt for t in tables}
    mixes = set()
    for ops in itertools.islice(C.op_stream(tables, 0), 5):
        mixes.add(tuple(sorted(
            (op.kind, tuple(fmt[t] for t in op.tables)) for op in ops)))
        for op in ops:
            if op.kind == "agg" and op.tables == ("t4",):
                k = int(op.sql.rsplit("<= ", 1)[1])
                assert op.expected == [
                    (4 * k, 4 * sum(v for _, v in C.ROWS[:k]))]
            if op.kind == "agg" and fmt[op.tables[0]] == "hive":
                import re

                lo, hi = (int(d) for d in re.findall(r"2024-01-0(\d)", op.sql))
                files = sum(range(lo, hi + 1))
                # 4 rows per file, v summing to 100 per file
                assert op.expected == [(4 * files, 100 * files)]
    assert len(mixes) == 1


def test_lakehouse_stream_is_seeded():
    def seq(seed):
        s = L.Stream(seed)
        return [s.reads() for _ in range(3)] + [
            s.write(k, t) for k, t in zip(
                ("insert", "update", "merge", "delete"), L.WRITABLE)
        ]

    assert seq(5) == seq(5)
    assert seq(5) != seq(6)


def test_lakehouse_generated_data_is_seeded(tmp_path):
    L.generate(3, tmp_path / "a")
    L.generate(3, tmp_path / "b")
    for name in ("orders.parquet", "lineitem.parquet"):
        assert (tmp_path / "a" / name).read_bytes() == (
            tmp_path / "b" / name).read_bytes()


def test_curate_inputs_are_seeded(tmp_path):
    M.build_inputs(tmp_path / "a", 4)
    M.build_inputs(tmp_path / "b", 4)
    for name in ("documents.parquet", "embeddings.parquet", "planted.json"):
        assert (tmp_path / "a" / name).read_bytes() == (
            tmp_path / "b" / name).read_bytes()
    planted = json.loads((tmp_path / "a" / "planted.json").read_text())
    assert planted, "no near-duplicates planted"


# -- output checks fail on wrong answers ---------------------------------------------


class _Arrow:
    def __init__(self, rows):
        self.rows = rows

    def to_pylist(self):
        return self.rows


def test_catalog_check_rejects_a_wrong_expected_value():
    wl = C.Workload(Path("/unused"), 1)
    wl.by_name = {"t": C.Table("t", "hive", "/x")}
    good = C.Query("agg", "SELECT 1", ("t",), [(8, 80)])
    bad = C.Query("agg", "SELECT 1", ("t",), [(8, 81)])
    rows = _Arrow([{"n": 8, "s": 80}])
    assert wl._op(good).check(rows) is None
    assert "expected" in wl._op(bad).check(rows)


def test_lakehouse_check_rejects_a_wrong_shadow(tmp_path):
    L.generate(2, tmp_path)
    wl = L.Workload(tmp_path, 2)
    wl.shadow = L.Shadow(tmp_path)
    sql = f"SELECT count(*) AS n FROM glue.{L.DB}.orders_delta"
    n = wl.shadow.count("orders_delta")
    assert wl._read(sql).check(_Arrow([{"n": n}])) is None
    wl.shadow.con.execute("DELETE FROM orders_delta WHERE o_orderkey = 1")
    assert "expected" in wl._read(sql).check(_Arrow([{"n": n}]))


def test_lakehouse_merge_shadow_updates_and_inserts(tmp_path):
    L.generate(2, tmp_path)
    sh = L.Shadow(tmp_path)
    before = sh.count("orders_delta")
    s = L.Stream(2)
    _sql, stmts = s.write("merge", "orders_delta")
    import re

    m, r = map(int, re.search(
        r"WHERE o_orderkey % (\d+) = (\d+)", _sql).groups())
    picked = sh.rows(
        f"SELECT count(*) FROM orders_delta WHERE o_orderkey % {m} = {r} "
        "AND o_orderkey % 2 = 1")[0][0]
    for stmt in stmts:
        sh.con.execute(stmt)
    assert sh.count("orders_delta") == before + picked


def test_minhash_check_rejects_a_wrong_pair():
    texts = {
        1: " ".join(f"w{i}" for i in range(40)),
        2: " ".join(f"w{i}" for i in range(40)).replace("w39", "x"),
        3: "completely different words here",
    }
    j = M.jaccard(M.shingles(texts[1]), M.shingles(texts[2]))
    good = [{"id_a": 1, "id_b": 2, "jaccard": round(j, 6)}]
    assert M.check_minhash_pairs(good, texts, [(1, 2)], 0.8) is None
    wrong = [{"id_a": 1, "id_b": 3, "jaccard": 0.9}]
    assert "Jaccard" in M.check_minhash_pairs(wrong, texts, [], 0.8)
    assert "not found" in M.check_minhash_pairs([], texts, [(1, 2)], 0.8)


def test_digest_ignores_row_order():
    rows = [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]
    assert M.digest(rows) == M.digest(rows[::-1])
    assert M.digest(rows) != M.digest(rows[:1])


# -- BENCHMARK.json agrees with what the runs print --------------------------------------


def test_benchmark_json_matches_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == (
        metrics.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == (
        metrics.PER_LAYER)
    names = {w["name"] for w in spec["workloads"]}
    assert names <= {"catalog_lookup", "lakehouse_rw", "llm_curate"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- one-time cross-check against the DuckDB oracle ----------------------------------------


def test_minhash_matches_the_duckdb_oracle(tmp_path):
    """MinHash pairs on the generated documents, in the portable md5 hash
    family, agree with ``__spark_entry__.oracle_sql()``."""
    pytest.importorskip("pyspark")
    import duckdb

    import __spark_entry__ as entry
    from glue_table_cache_spark.io import read_table
    from glue_table_cache_spark.operators import dedup as D
    from glue_table_cache_spark.session import build_session

    M.build_inputs(tmp_path, 5)
    spark = build_session(master="local[2]", shuffle_partitions=2)
    try:
        got = D.minhash_dedup_pairs(
            read_table(spark, str(tmp_path), "documents"),
            threshold=0.8, portable=True,
        ).toArrow().to_pylist()
    finally:
        spark.stop()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'documents.parquet'}')"
    )
    want = con.execute(entry.oracle_sql()["dedup_minhash_pairs"]).fetchall()
    key = lambda r: (r[0], r[1], round(r[2], 6))  # noqa: E731
    assert sorted(key(tuple(r.values())) for r in got) == sorted(
        key(r) for r in want)
    assert got, "no near-duplicate pairs to compare"
