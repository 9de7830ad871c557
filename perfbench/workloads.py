"""The benchmark workloads: pipeline configs, timed runs and output checks.

Each workload drives the public ``Pipeline(config, ...).run()`` path over
the files :mod:`perfbench.gen` wrote, and checks what the sink committed
against a reference computed independently from the same files with
duckdb, pandas or numpy. A check returns a list of mismatch messages; an
empty list means the output is correct.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import duckdb
import numpy as np
import pandas as pd

from perfbench.gen import Inputs

PAGERANK_ITERATIONS = 10
PAGERANK_DAMPING = 0.85
# PageRank reference tolerance per vertex: |rank - ref| <= ABS + REL * ref.
# Both sides run the same float64 recurrence; only the summation order of
# the per-vertex contributions differs, which moves the last few bits.
PAGERANK_ABS_TOL = 1e-12
PAGERANK_REL_TOL = 1e-9
QUALITY_FLOOR = 0.5
UPSERT_BUCKETS = 16


def _sql_rows(sql: str) -> list[tuple]:
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def _compare(expected: dict, actual: dict) -> list[str]:
    return [
        f"{k}: expected {expected[k]!r}, got {actual.get(k)!r}"
        for k in expected
        if expected[k] != actual.get(k)
    ]


@dataclass
class RunOutcome:
    seconds: float = 0.0
    results: list = field(default_factory=list)
    sink_bytes: int = 0
    sink_files: int = 0


class Workload:
    """One seeded workload bound to a live session.

    ``reference`` computes the expected output from the input files
    without Spark; ``register`` does the untimed per-process Spark work
    (reading inputs into the tables the pipelines see); ``run`` is the
    timed region and writes every sink under ``out``; ``check`` validates
    the committed sink files against the reference."""

    name = ""

    def __init__(self, spark, inputs: Inputs, work_dir: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work_dir = work_dir

    def reference(self) -> None:
        raise NotImplementedError

    def register(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        self.reference()
        self.register()

    def reset(self, out: str) -> None:
        """Untimed per-run set-up: drop every frame an earlier run left
        cached in the session (the MinHash dedup caches its signatures and
        keeps them), so each run does the full work of a fresh
        ``Pipeline.run()``, and create the sink location ``out``."""
        self.spark.catalog.clearCache()
        os.makedirs(out, exist_ok=True)

    def pipelines(self, out: str) -> list[Callable[[], tuple[dict, dict]]]:
        """The run's pipelines, in order, each as a callable returning its
        (config, registered tables); called inside the timed region."""
        raise NotImplementedError

    def run(self, out: str) -> RunOutcome:
        """One timed run. Only the pipeline calls are timed, from building
        the tables and ``Pipeline(...)`` until ``run()`` returns with the
        sink committed; the sink is listed between pipelines, untimed, so
        files a later pipeline replaces still count as written."""
        from orientdb_etl_spark import Pipeline

        outcome = RunOutcome()
        before = sink_snapshot(out)
        for make in self.pipelines(out):
            t0 = time.perf_counter()
            config, tables = make()
            outcome.results.append(Pipeline(config, spark=self.spark, tables=tables).run())
            outcome.seconds += time.perf_counter() - t0
            after = sink_snapshot(out)
            new = [n for p, n in after.items() if before.get(p) != n]
            outcome.sink_bytes += sum(new)
            outcome.sink_files += len(new)
            before = after
        return outcome

    def check(self, out: str) -> list[str]:
        raise NotImplementedError


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------


def ingest_config(csv_path: str, out: str) -> dict:
    return {
        "source": {"file": {"path": csv_path}},
        "extractor": {"row": {}},
        "transformers": [
            {
                "csv": {
                    "separator": ",",
                    "nullValue": "NULL",
                    "columnsOnFirstLine": True,
                    "columns": [
                        "id:LONG",
                        "name:STRING",
                        "age:INTEGER",
                        "city:STRING",
                        "company:LONG",
                        "status:STRING",
                    ],
                }
            },
            {"field": {"fieldName": "name", "expression": "name.trim()"}},
            {"flow": {"operation": "skip", "if": "status = 'deleted'"}},
            {
                "link": {
                    "joinFieldName": "city",
                    "lookup": "City.code",
                    "linkFieldName": "city_name",
                    "linkValueField": "name",
                    "unresolvedLinkAction": "HALT",
                }
            },
            {"vertex": {"class": "Person", "idField": "id"}},
            {
                "edge": {
                    "joinFieldName": "company",
                    "lookup": "Company.cid",
                    "class": "WorksAt",
                    "sourceIdField": "id",
                }
            },
        ],
        "loader": {
            "orientdb": {
                "path": out,
                "dbType": "graph",
                "indexes": [
                    {"class": "Person", "fields": ["id:LONG"], "type": "UNIQUE"}
                ],
            }
        },
    }


def people_csv(path: str) -> str:
    """duckdb table expression reading the ingest CSV as the pipeline's
    csv step declares it."""
    return (
        f"read_csv('{path}', header = true, nullstr = 'NULL', quote = '\"', "
        "delim = ',', columns = {'id': 'BIGINT', 'name': 'VARCHAR', "
        "'age': 'INTEGER', 'city': 'VARCHAR', 'company': 'BIGINT', "
        "'status': 'VARCHAR'})"
    )


class Ingest(Workload):
    name = "ingest"

    def register(self) -> None:
        p = self.inputs.paths
        self.tables = {
            "City": self.spark.read.parquet(p["city"]),
            "Company": self.spark.read.parquet(p["company"]),
        }

    def reference(self) -> None:
        p = self.inputs.paths
        (
            n, sum_id, sum_name, n_age, sum_age, sum_city, sum_company
        ) = _sql_rows(
            f"""
            SELECT count(*), sum(p.id), sum(length(trim(p.name))), count(p.age),
                   sum(p.age), sum(length(c.name)), sum(p.company)
            FROM {people_csv(p["csv"])} p
            JOIN read_parquet('{p["city"]}') c ON p.city = c.code
            WHERE p.status <> 'deleted'
            """
        )[0]
        (n_edges, sum_dst) = _sql_rows(
            f"""
            SELECT count(*), sum(p.company)
            FROM {people_csv(p["csv"])} p
            JOIN read_parquet('{p["company"]}') k ON p.company = k.cid
            WHERE p.status <> 'deleted'
            """
        )[0]
        self.expected = {
            "documents.rows": n,
            "documents.distinct_id": n,
            "documents.sum_id": sum_id,
            "documents.sum_name_len": sum_name,
            "documents.non_null_age": n_age,
            "documents.sum_age": sum_age,
            "documents.sum_city_name_len": sum_city,
            "documents.sum_company": sum_company,
            "vertices.rows": n,
            "vertices.sum_id": sum_id,
            "vertices.non_person": 0,
            "edges.rows": n_edges,
            "edges.sum_src": sum_id,
            "edges.sum_dst": sum_dst,
            "edges.non_works_at": 0,
        }

    def pipelines(self, out: str) -> list:
        cfg = ingest_config(self.inputs.paths["csv"], os.path.join(out, "graph"))
        return [lambda: (cfg, dict(self.tables))]

    def check(self, out: str) -> list[str]:
        g = os.path.join(out, "graph")
        d = _sql_rows(
            f"""SELECT count(*), count(DISTINCT id), sum(id), sum(length(name)),
                       count(age), sum(age), sum(length(city_name)), sum(company)
                FROM read_parquet('{_parquet_glob(g + "/documents")}')"""
        )[0]
        v = _sql_rows(
            f"""SELECT count(*), sum(CAST(id AS BIGINT)),
                       count(*) FILTER (WHERE label <> 'Person')
                FROM read_parquet('{_parquet_glob(g + "/vertices")}')"""
        )[0]
        e = _sql_rows(
            f"""SELECT count(*), sum(CAST(src AS BIGINT)), sum(CAST(dst AS BIGINT)),
                       count(*) FILTER (WHERE label <> 'WorksAt')
                FROM read_parquet('{_parquet_glob(g + "/edges")}')"""
        )[0]
        keys = [k for k in self.expected]
        return _compare(self.expected, dict(zip(keys, [*d, *v, *e])))


# --------------------------------------------------------------------------
# upsert
# --------------------------------------------------------------------------


def upsert_config(target: str) -> dict:
    return {
        "extractor": {"table": {"name": "batch"}},
        "transformers": [
            {
                "merge": {
                    "joinFieldName": "key",
                    "lookup": "Target.key",
                    "dedupeIncoming": "ts",
                }
            }
        ],
        "loader": {
            "parquet": {
                "path": target,
                "mode": "merge",
                "keys": ["key"],
                "orderBy": "ts",
                "numBuckets": UPSERT_BUCKETS,
            }
        },
    }


UPSERT_COLUMNS = ["key", "ts", "name", "amount", "email"]


def batch_paths(paths: dict[str, str]) -> list[str]:
    """The upsert batch files in the order they are merged."""
    return [paths[f"batch_{b}"] for b in range(sum(k.startswith("batch_") for k in paths))]


def upsert_reference(paths: dict[str, str]) -> pd.DataFrame:
    """Sequential merge in pandas: per batch the newest ``ts`` per key
    wins, its null fields are filled from the existing record, and it
    replaces that record (last writer wins)."""
    state = pd.read_parquet(paths["base"]).set_index("key")
    for path in batch_paths(paths):
        batch = pd.read_parquet(path).sort_values("ts")
        win = batch.drop_duplicates("key", keep="last").set_index("key")
        old = state.reindex(win.index)
        for c in ("name", "amount", "email"):
            win[c] = win[c].where(win[c].notna(), old[c])
        state = pd.concat([state.drop(win.index.intersection(state.index)), win])
    return state.reset_index()[UPSERT_COLUMNS].sort_values("key").reset_index(drop=True)


def frames_equal(expected: pd.DataFrame, actual: pd.DataFrame) -> list[str]:
    if len(expected) != len(actual):
        return [f"rows: expected {len(expected)}, got {len(actual)}"]
    errs = []
    for c in expected.columns:
        a, b = expected[c].to_numpy(object), actual[c].to_numpy(object)
        na, nb = pd.isna(a), pd.isna(b)
        bad = (na != nb) | (~na & ~nb & (a != b))
        if bad.any():
            i = int(np.argmax(bad))
            errs.append(
                f"{c}: {int(bad.sum())} rows differ, first at key "
                f"{expected['key'].iloc[i]}: expected {a[i]!r}, got {b[i]!r}"
            )
    return errs


class Upsert(Workload):
    name = "upsert"

    def reference(self) -> None:
        self.expected = upsert_reference(self.inputs.paths)

    def register(self) -> None:
        from orientdb_etl_spark import Pipeline

        p = self.inputs.paths
        self.batches = [self.spark.read.parquet(b) for b in batch_paths(p)]
        # the seeded base target, written once through the merge loader
        # itself so it has the bucketed layout; every run starts from a copy
        self.base_target = os.path.join(self.work_dir, "base_target")
        shutil.rmtree(self.base_target, ignore_errors=True)
        cfg = upsert_config(self.base_target)
        cfg["transformers"] = []
        Pipeline(
            cfg, spark=self.spark, tables={"batch": self.spark.read.parquet(p["base"])}
        ).run()

    def reset(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)
        super().reset(out)
        shutil.copytree(self.base_target, os.path.join(out, "target"))

    def pipelines(self, out: str) -> list:
        target = os.path.join(out, "target")

        def make(batch):
            # the merge looks records up in the target as it stands now
            return lambda: (
                upsert_config(target),
                {"batch": batch, "Target": self.spark.read.parquet(target)},
            )

        return [make(b) for b in self.batches]

    def check(self, out: str) -> list[str]:
        with duckdb.connect() as con:
            actual = con.execute(
                f"""SELECT {", ".join(UPSERT_COLUMNS)}
                    FROM read_parquet('{_parquet_glob(os.path.join(out, "target"))}',
                                      hive_partitioning = true)
                    ORDER BY key"""
            ).df()
        return frames_equal(self.expected, actual)


# --------------------------------------------------------------------------
# ingest_upsert
# --------------------------------------------------------------------------


class IngestUpsert(Workload):
    """The ``ingest`` graph load, then the ``upsert`` batches, in one run:
    the paper's CSV-to-graph load and its upserts side by side, timed as
    one run so both fit into one process's time budget."""

    name = "ingest_upsert"

    def __init__(self, spark, inputs: Inputs, work_dir: str) -> None:
        super().__init__(spark, inputs, work_dir)
        self.parts = [Ingest(spark, inputs, work_dir), Upsert(spark, inputs, work_dir)]

    def reference(self) -> None:
        for w in self.parts:
            w.reference()

    def register(self) -> None:
        for w in self.parts:
            w.register()

    def reset(self, out: str) -> None:
        # the upsert part's reset empties ``out`` and clears the cache
        self.parts[1].reset(out)

    def pipelines(self, out: str) -> list:
        return [p for w in self.parts for p in w.pipelines(out)]

    def check(self, out: str) -> list[str]:
        return [e for w in self.parts for e in w.check(out)]


# --------------------------------------------------------------------------
# graph
# --------------------------------------------------------------------------


def graph_configs(out: str) -> list[dict]:
    return [
        {
            "extractor": {"table": {"name": "edges"}},
            "transformers": [
                {
                    "pagerank": {
                        "src": "src",
                        "dst": "dst",
                        "iterations": PAGERANK_ITERATIONS,
                        "damping": PAGERANK_DAMPING,
                    }
                }
            ],
            "loader": {"parquet": {"path": os.path.join(out, "pagerank")}},
        },
        {
            "extractor": {"table": {"name": "edges"}},
            "transformers": [{"connectedComponents": {"src": "src", "dst": "dst"}}],
            "loader": {"parquet": {"path": os.path.join(out, "components")}},
        },
    ]


def pagerank_reference(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Power iteration with the engine's documented semantics: parallel
    edges count once, r_0 = 1/N, dangling mass is not redistributed."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    ids, inv = np.unique(pairs, return_inverse=True)
    inv = inv.reshape(pairs.shape)
    s, d = inv[:, 0], inv[:, 1]
    n = len(ids)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_ITERATIONS):
        contrib = np.bincount(d, weights=rank[s] / out_deg[s], minlength=n)
        rank = (1.0 - PAGERANK_DAMPING) * (1.0 / n) + PAGERANK_DAMPING * contrib
    return ids, rank


def component_reference(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Union-find over the undirected edges; label = smallest member id."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    parent = np.arange(len(ids))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    m = len(src)
    for a, b in zip(inv[:m], inv[m:]):
        ra, rb = find(a), find(b)
        if ra != rb:
            # ids are sorted, so the smaller index is the smaller id
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(len(ids))])
    return ids, ids[roots]


class Graph(Workload):
    name = "graph"

    def register(self) -> None:
        self.tables = {"edges": self.spark.read.parquet(self.inputs.paths["edges"])}

    def reference(self) -> None:
        edges = pd.read_parquet(self.inputs.paths["edges"])
        src, dst = edges["src"].to_numpy(), edges["dst"].to_numpy()
        self.pr_ids, self.pr_rank = pagerank_reference(src, dst)
        self.cc_ids, self.cc_label = component_reference(src, dst)

    def pipelines(self, out: str) -> list:
        return [(lambda c=cfg: (c, dict(self.tables))) for cfg in graph_configs(out)]

    def check(self, out: str) -> list[str]:
        errs = []
        with duckdb.connect() as con:
            pr = con.execute(
                f"SELECT id, rank FROM read_parquet('{_parquet_glob(os.path.join(out, 'pagerank'))}') ORDER BY id"
            ).df()
            cc = con.execute(
                f"SELECT id, label FROM read_parquet('{_parquet_glob(os.path.join(out, 'components'))}') ORDER BY id"
            ).df()
        if not np.array_equal(pr["id"].to_numpy(), self.pr_ids):
            errs.append(f"pagerank ids: expected {len(self.pr_ids)} vertices, got {len(pr)}")
        else:
            diff = np.abs(pr["rank"].to_numpy() - self.pr_rank)
            tol = PAGERANK_ABS_TOL + PAGERANK_REL_TOL * self.pr_rank
            if (diff > tol).any():
                errs.append(
                    f"pagerank: {int((diff > tol).sum())} ranks off the power "
                    f"iteration, max abs diff {diff.max():.3e}"
                )
        if not np.array_equal(cc["id"].to_numpy(), self.cc_ids):
            errs.append(f"components ids: expected {len(self.cc_ids)} vertices, got {len(cc)}")
        elif not np.array_equal(cc["label"].to_numpy(), self.cc_label):
            bad = int((cc["label"].to_numpy() != self.cc_label).sum())
            errs.append(f"components: {bad} labels differ from union-find")
        return errs


# --------------------------------------------------------------------------
# curate
# --------------------------------------------------------------------------


def curate_config(out: str) -> dict:
    """The ``examples/config-curation.json`` chain into a parquet sink."""
    return {
        "extractor": {"table": {"name": "documents"}},
        "transformers": [
            {"text_metrics": {"textField": "text"}},
            {
                "dedup": {
                    "method": "minhash",
                    "textField": "text",
                    "idField": "doc_id",
                    "numPerm": 128,
                    "bands": 16,
                    "threshold": 0.7,
                    "survivor": "best_of_component",
                    "scoreField": "quality",
                }
            },
            {"filter": {"condition": f"quality >= {QUALITY_FLOOR}"}},
            {"select": {"columns": ["doc_id", "n_tokens", "quality", "lang_pred"]}},
        ],
        "loader": {"parquet": {"path": os.path.join(out, "curated")}},
    }


_PUNCT = {chr(c) for r in ((33, 47), (58, 64), (91, 96), (123, 126)) for c in range(r[0], r[1] + 1)}


def quality_reference(text: str) -> float:
    """The documented quality blend, recomputed in plain Python: mean of a
    length score (saturating at 500 chars), 1 - punctuation ratio, the
    share of purely alphabetic tokens and a mean-word-length sanity bit."""
    n_chars = len(text)
    toks = text.split()
    len_score = min(n_chars / 500.0, 1.0)
    punct = sum(ch in _PUNCT for ch in text) / n_chars if n_chars else 0.0
    alpha = sum(t.isascii() and t.isalpha() for t in toks) / len(toks) if toks else 0.0
    mean_wl = n_chars / len(toks) if toks else 0.0
    wl = 1.0 if 2 <= mean_wl <= 12 else 0.0
    return (len_score + (1 - punct) + alpha + wl) / 4


def curate_expected(ids: np.ndarray, texts: list[str], clusters: list[list[int]]) -> set[int]:
    """Doc ids that must survive: each planted cluster keeps its best
    member (highest quality, ties to the smaller id), every other document
    is kept alone, and only documents at or above the floor pass."""
    quality = {int(i): quality_reference(t) for i, t in zip(ids, texts)}
    keep = set(quality)
    for members in clusters:
        best = min(members, key=lambda m: (-quality[m], m))
        keep -= set(members) - {best}
    return {i for i in keep if quality[i] >= QUALITY_FLOOR}


class Curate(Workload):
    name = "curate"

    def register(self) -> None:
        self.tables = {"documents": self.spark.read.parquet(self.inputs.paths["corpus"])}

    def reference(self) -> None:
        corpus = pd.read_parquet(self.inputs.paths["corpus"])
        self.input_ids = set(corpus["doc_id"].tolist())
        self.clusters = self.inputs.truth["clusters"]
        self.expected = curate_expected(
            corpus["doc_id"].to_numpy(), corpus["text"].tolist(), self.clusters
        )

    def pipelines(self, out: str) -> list:
        return [lambda: (curate_config(out), dict(self.tables))]

    def check(self, out: str) -> list[str]:
        kept = [
            r[0]
            for r in _sql_rows(
                f"SELECT doc_id FROM read_parquet('{_parquet_glob(os.path.join(out, 'curated'))}')"
            )
        ]
        errs = []
        kept_set = set(kept)
        if len(kept_set) != len(kept):
            errs.append(f"{len(kept) - len(kept_set)} duplicate survivors")
        if kept_set - self.input_ids:
            errs.append(f"{len(kept_set - self.input_ids)} survivors are not input documents")
        split = [c for c in self.clusters if len(kept_set & set(c)) > 1]
        if split:
            errs.append(f"{len(split)} planted clusters keep more than one member")
        lost = [c for c in self.clusters if not kept_set & set(c)]
        if lost:
            errs.append(f"{len(lost)} planted clusters keep no member")
        if kept_set != self.expected:
            errs.append(
                f"survivors differ from the reference: {len(kept_set - self.expected)} "
                f"unexpected, {len(self.expected - kept_set)} missing"
            )
        return errs


WORKLOADS = {w.name: w for w in (Ingest, Upsert, IngestUpsert, Graph, Curate)}


def sink_snapshot(root: str) -> dict[str, int]:
    """Data files under ``root`` (path -> size), ignoring Spark's markers
    and checksum side files."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out
