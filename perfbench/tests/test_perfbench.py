"""Tests of the benchmark itself: its metric contract, its generator, its
output checks and its tracer.

    python -m pytest perfbench/tests -q

The check tests need no Spark: they write the reference answer as the
sink would, confirm the check accepts it, then corrupt it and confirm the
check refuses it. The tracer tests start one local Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run  # noqa: E402
from perfbench import workloads as W  # noqa: E402


def test_printed_metrics_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert set(run.WORKLOADS) == set(W.WORKLOADS)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_generator_is_byte_identical_per_seed(tmp_path, workload):
    a = gen.generate(workload, 11, str(tmp_path / "a"))
    b = gen.generate(workload, 11, str(tmp_path / "b"))
    c = gen.generate(workload, 12, str(tmp_path / "c"))
    assert (a.rows, a.bytes, a.truth) == (b.rows, b.bytes, b.truth)
    for k in a.paths:
        assert Path(a.paths[k]).read_bytes() == Path(b.paths[k]).read_bytes(), k
    assert any(
        Path(a.paths[k]).read_bytes() != Path(c.paths[k]).read_bytes() for k in a.paths
    )


# --------------------------------------------------------------------------
# output checks: accept the reference, refuse a corruption
# --------------------------------------------------------------------------


def _workload(name: str, tmp_path: Path, **sizes) -> W.Workload:
    rng = np.random.default_rng(5)
    inputs = gen.GENERATORS[name](rng, str(tmp_path / "in"), **sizes)
    wl = W.WORKLOADS[name](None, inputs, str(tmp_path))
    wl.reference()
    return wl


def _write(path: Path, df: pd.DataFrame) -> None:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path / "part-0.parquet")


def _ingest_sink(wl: W.Ingest, out: Path) -> None:
    p = wl.inputs.paths
    with duckdb.connect() as con:
        docs = con.execute(
            f"""SELECT p.id, trim(p.name) AS name, p.age, p.city, p.company, p.status,
                       c.name AS city_name, 'Person' AS label
                FROM {W.people_csv(p["csv"])} p
                JOIN read_parquet('{p["city"]}') c ON p.city = c.code
                WHERE p.status <> 'deleted'"""
        ).df()
    g = out / "graph"
    _write(g / "documents", docs)
    _write(g / "vertices", docs.assign(id=docs["id"].astype(str))[["id", "label"]])
    _write(
        g / "edges",
        pd.DataFrame(
            {"src": docs["id"].astype(str), "dst": docs["company"].astype(str), "label": "WorksAt"}
        ),
    )


def test_ingest_check(tmp_path):
    wl = _workload("ingest", tmp_path, n=500)
    out = tmp_path / "out"
    _ingest_sink(wl, out)
    assert wl.check(str(out)) == []
    edges = out / "graph" / "edges" / "part-0.parquet"
    e = pd.read_parquet(edges)
    _write(edges.parent, e.iloc[1:])
    assert any("edges.rows" in m for m in wl.check(str(out)))
    _ingest_sink(wl, out)
    docs = out / "graph" / "documents" / "part-0.parquet"
    d = pd.read_parquet(docs)
    d.loc[0, "name"] = " " + d.loc[0, "name"]  # untrimmed name
    _write(docs.parent, d)
    assert any("sum_name_len" in m for m in wl.check(str(out)))


def test_ingest_upsert_check_covers_both_sinks(tmp_path):
    wl = _workload("ingest_upsert", tmp_path)
    ingest, upsert = wl.parts
    out = tmp_path / "out"
    _ingest_sink(ingest, out)
    target = out / "target" / "_kb=0"
    _write(target, upsert.expected)
    assert wl.check(str(out)) == []
    bad = upsert.expected.copy()
    bad.loc[3, "amount"] += 1.0
    _write(target, bad)
    assert [m.split(":")[0] for m in wl.check(str(out))] == ["amount"]
    _write(target, upsert.expected)
    edges = out / "graph" / "edges" / "part-0.parquet"
    _write(edges.parent, pd.read_parquet(edges).iloc[1:])
    assert any("edges.rows" in m for m in wl.check(str(out)))


def test_upsert_check(tmp_path):
    wl = _workload("upsert", tmp_path, base_rows=400, batch_rows=200)
    out = tmp_path / "out"
    target = out / "target" / "_kb=0"
    _write(target, wl.expected)
    assert wl.check(str(out)) == []
    bad = wl.expected.copy()
    bad.loc[3, "amount"] += 1.0
    _write(target, bad)
    assert any(m.startswith("amount") for m in wl.check(str(out)))
    # a first-writer-wins merge (oldest batch row kept) must be refused
    p = wl.inputs.paths
    first = pd.concat([pd.read_parquet(b) for b in W.batch_paths(p)])
    first = first.sort_values("ts").drop_duplicates("key", keep="first")
    base = pd.read_parquet(p["base"])
    fww = pd.concat([base[~base.key.isin(first.key)], first]).sort_values("key")
    _write(target, fww.reset_index(drop=True))
    assert wl.check(str(out)) != []


def test_graph_check(tmp_path):
    wl = _workload("graph", tmp_path, n_vertices=600, n_edges=1500, n_components=12)
    out = tmp_path / "out"
    _write(out / "pagerank", pd.DataFrame({"id": wl.pr_ids, "rank": wl.pr_rank}))
    _write(out / "components", pd.DataFrame({"id": wl.cc_ids, "label": wl.cc_label}))
    assert wl.check(str(out)) == []
    _write(out / "pagerank", pd.DataFrame({"id": wl.pr_ids, "rank": wl.pr_rank * (1 + 1e-6)}))
    assert any(m.startswith("pagerank") for m in wl.check(str(out)))
    labels = wl.cc_label.copy()
    labels[np.argmax(labels != wl.cc_ids)] = wl.cc_ids[np.argmax(labels != wl.cc_ids)]
    _write(out / "components", pd.DataFrame({"id": wl.cc_ids, "label": labels}))
    assert any(m.startswith("components") for m in wl.check(str(out)))


def test_graph_references_on_a_known_graph():
    src = np.array([1, 2, 3, 3, 5, 5, 7], dtype=np.int64)
    dst = np.array([2, 3, 1, 1, 6, 5, 7], dtype=np.int64)
    ids, labels = W.component_reference(src, dst)
    assert dict(zip(ids.tolist(), labels.tolist())) == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7}
    ids, rank = W.pagerank_reference(src, dst)
    # the 3-cycle is symmetric: its members share one rank
    r = dict(zip(ids.tolist(), rank.tolist()))
    assert r[1] == pytest.approx(r[2]) == pytest.approx(r[3])


def test_curate_check(tmp_path):
    wl = _workload("curate", tmp_path, n_docs=300)
    out = tmp_path / "out" / "curated"
    kept = sorted(wl.expected)
    _write(out, pd.DataFrame({"doc_id": kept}))
    assert wl.check(str(out.parent)) == []
    cluster = next(c for c in wl.clusters if len(c) > 1)
    _write(out, pd.DataFrame({"doc_id": sorted(set(kept) | set(cluster))}))
    assert any("more than one member" in m for m in wl.check(str(out.parent)))
    junk = min(i for i in wl.input_ids if i not in wl.expected and not any(i in c for c in wl.clusters))
    _write(out, pd.DataFrame({"doc_id": kept + [junk]}))
    assert any("differ from the reference" in m for m in wl.check(str(out.parent)))
    _write(out, pd.DataFrame({"doc_id": kept[1:]}))
    assert wl.check(str(out.parent)) != []


# --------------------------------------------------------------------------
# tracer (one local Spark session)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("session")
    (work / "tmp").mkdir()
    session, _ = run.setup_session(work, 2)
    yield session
    run.stop_session(session)


def _traced_runs(spark, wl: W.Workload, n: int, count_rows: bool = False) -> list[tuple]:
    from perfbench.tracing import Tracer

    out = []
    for i in range(n):
        sink = os.path.join(wl.work_dir, f"out{i}")
        wl.reset(sink)
        tracer = Tracer(spark, count_rows)
        with tracer.installed(), tracer.span("run", "run") as root:
            outcome = wl.run(sink)
        stages = tracer.collect()
        assert wl.check(sink) == []
        metrics = run.layer_metrics(root, stages, outcome, wl, 2, 0.0)
        out.append((root, outcome, metrics))
        shutil.rmtree(sink)
    return out


def _assert_nested(root) -> None:
    for sp in root.walk():
        assert sp.self_s >= -1e-9, sp.name
        for c in sp.children:
            assert sp.t0 <= c.t0 <= c.t1 <= sp.t1, (sp.name, c.name)
    assert sum(sp.self_s for sp in root.walk()) <= root.s + 1e-9


@pytest.mark.parametrize(
    "name, sizes",
    [("ingest", {"n": 3000}), ("upsert", {"base_rows": 4000, "batch_rows": 1000})],
)
def test_traced_runs_nest_and_repeat_counts(spark, tmp_path, name, sizes):
    wl = W.WORKLOADS[name](
        spark, gen.GENERATORS[name](np.random.default_rng(3), str(tmp_path / "in"), **sizes),
        str(tmp_path),
    )
    wl.prepare()
    (r1, o1, m1), (r2, o2, m2) = _traced_runs(spark, wl, 2)
    for root in (r1, r2):
        _assert_nested(root)
        layers = {sp.layer for sp in root.walk()}
        assert {"pipeline", "sources", "loaders"} <= layers
    deterministic = [k for k in m1 if k.endswith(".jobs")] + ["loaders.bytes_written"]
    assert {k: m1[k] for k in deterministic} == {k: m2[k] for k in deterministic}
    assert m1["loaders.jobs"] > 0 and m1["loaders.bytes_written"] > 0
    assert o1.sink_bytes == o2.sink_bytes > 0
    if name == "upsert":
        assert m1["streaming.rewrite_bytes"] > 0 and m1["streaming.read_back_bytes"] > 0
    ((rc, _, _),) = _traced_runs(spark, wl, 1, count_rows=True)
    counts = run.row_counts(rc)
    assert 0 < counts["operators.keep_ratio"] <= 1
    if name == "ingest":
        # the flow step drops the ~5% deleted rows
        assert 0.9 < counts["operators.flow.keep_ratio"] < 1


def test_quality_reference_matches_engine(spark, tmp_path):
    from orientdb_etl_spark.functions.text import add_text_metrics

    inputs = gen.gen_curate(np.random.default_rng(9), str(tmp_path), n_docs=300)
    corpus = pd.read_parquet(inputs.paths["corpus"])
    engine = {
        r["doc_id"]: r["quality"]
        for r in add_text_metrics(spark.createDataFrame(corpus), "text")
        .select("doc_id", "quality")
        .collect()
    }
    ref = {i: W.quality_reference(t) for i, t in zip(corpus["doc_id"], corpus["text"])}
    assert engine == ref
    assert min(ref.values()) < W.QUALITY_FLOOR < max(ref.values())


def test_tracer_restores_entry_points(spark):
    import orientdb_etl_spark.pipeline as P
    import orientdb_etl_spark.streaming.ops as O

    from perfbench.tracing import Tracer

    before = (P.resolve_source, P.apply_transformer, P.run_loader, P.Pipeline.compile,
              O.foreach_batch_upsert)
    with Tracer(spark).installed():
        assert P.run_loader is not before[2]
    assert (P.resolve_source, P.apply_transformer, P.run_loader, P.Pipeline.compile,
            O.foreach_batch_upsert) == before
