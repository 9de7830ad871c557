"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
seed and an output directory, writes its files there and returns an
:class:`Inputs` record. Files are written with fixed options only (no
timestamps, no host-dependent ordering), so two calls with the same seed
produce byte-identical files. ``Inputs.truth`` carries what the
generator planted (cluster membership), which the reference checks need
and the pipeline never sees.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# workload sizes: at these sizes a warm run takes about 2-5 s on a 4-core
# host and is dominated by the engine's per-job work (planning, job and
# stage scheduling, JIT-warm kernels) rather than by raw data volume; they
# are kept this small so cold run, warm-ups and several timed runs of one
# workload fit into one process's time budget
INGEST_LINES = 40_000
INGEST_CITIES = 300
INGEST_COMPANIES = 5_000
UPSERT_BASE_ROWS = 40_000
UPSERT_BATCHES = 2
UPSERT_BATCH_ROWS = 10_000
GRAPH_VERTICES = 8_000
GRAPH_EDGES = 20_000
GRAPH_COMPONENTS = 80
CURATE_DOCS = 2_000


@dataclass
class Inputs:
    """Generated files of one workload and their size."""

    paths: dict[str, str]
    rows: int
    bytes: int
    truth: dict = field(default_factory=dict)


def _write_parquet(path: str, table: pa.Table) -> int:
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return os.path.getsize(path)


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    lens = rng.integers(lo, hi + 1, size=n)
    chars = rng.choice(letters, size=int(lens.sum()))
    out, pos = [], 0
    for n_c in lens:
        out.append(b"".join(chars[pos : pos + n_c]).decode())
        pos += n_c
    return out


# --------------------------------------------------------------------------
# ingest: header CSV with NULL sentinels and quoted separators
# --------------------------------------------------------------------------


def gen_ingest(rng: np.random.Generator, out_dir: str, n: int = INGEST_LINES) -> Inputs:
    """``people.csv`` (header + n lines) plus the ``City`` and ``Company``
    dimensions the link and edge steps resolve against.

    Columns: id (unique), name (some quoted with an embedded comma, some
    padded with spaces for the trim step), age (10% ``NULL``), city (a
    ``City.code``), company (a ``Company.cid``), status (5% ``deleted``,
    dropped by the flow step)."""
    os.makedirs(out_dir, exist_ok=True)
    first = _words(rng, 400, 3, 8)
    last = _words(rng, 600, 4, 10)
    ids = rng.permutation(n).astype(np.int64) * 3 + 1_000_003
    fi = rng.integers(0, len(first), n)
    li = rng.integers(0, len(last), n)
    quoted = rng.random(n) < 0.2
    padded = rng.random(n) < 0.1
    age = rng.integers(18, 91, n)
    age_null = rng.random(n) < 0.1
    city = rng.integers(0, INGEST_CITIES, n)
    company = rng.integers(0, INGEST_COMPANIES, n).astype(np.int64) * 7 + 11
    deleted = rng.random(n) < 0.05

    lines = ["id,name,age,city,company,status"]
    for i in range(n):
        f, l = first[fi[i]].capitalize(), last[li[i]].capitalize()
        name = f'"{l}, {f}"' if quoted[i] else f"{f} {l}"
        if padded[i]:
            name = f'"  {name.strip(chr(34))}  "'
        a = "NULL" if age_null[i] else str(age[i])
        s = "deleted" if deleted[i] else "active"
        lines.append(f"{ids[i]},{name},{a},C{city[i]:04d},{company[i]},{s}")
    csv_path = os.path.join(out_dir, "people.csv")
    with open(csv_path, "w", newline="\n") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")

    city_names = _words(rng, INGEST_CITIES, 5, 12)
    city_path = os.path.join(out_dir, "city.parquet")
    company_path = os.path.join(out_dir, "company.parquet")
    size = os.path.getsize(csv_path)
    size += _write_parquet(
        city_path,
        pa.table(
            {
                "code": [f"C{i:04d}" for i in range(INGEST_CITIES)],
                "name": [c.capitalize() for c in city_names],
            }
        ),
    )
    size += _write_parquet(
        company_path,
        pa.table(
            {
                "cid": np.arange(INGEST_COMPANIES, dtype=np.int64) * 7 + 11,
                "cname": _words(rng, INGEST_COMPANIES, 4, 12),
            }
        ),
    )
    return Inputs(
        {"csv": csv_path, "city": city_path, "company": company_path},
        rows=n + INGEST_CITIES + INGEST_COMPANIES,
        bytes=size,
    )


# --------------------------------------------------------------------------
# upsert: seeded base target plus K keyed batches
# --------------------------------------------------------------------------


def _upsert_table(
    rng: np.random.Generator, keys: np.ndarray, ts: np.ndarray, null_email: float
) -> pa.Table:
    n = len(keys)
    names = _words(rng, 500, 4, 10)
    email = [f"{names[j]}{k}@example.org" for j, k in zip(rng.integers(0, 500, n), keys)]
    mask = rng.random(n) < null_email
    return pa.table(
        {
            "key": pa.array(keys, pa.int64()),
            "ts": pa.array(ts, pa.int64()),
            "name": [names[j] for j in rng.integers(0, 500, n)],
            "amount": pa.array(np.round(rng.random(n) * 1000, 2)),
            "email": pa.array(email, mask=mask),
        }
    )


def gen_upsert(
    rng: np.random.Generator,
    out_dir: str,
    base_rows: int = UPSERT_BASE_ROWS,
    batches: int = UPSERT_BATCHES,
    batch_rows: int = UPSERT_BATCH_ROWS,
) -> Inputs:
    """``base.parquet`` (unique keys) and ``batch_<i>.parquet``.

    Batch keys are drawn with replacement, half from the base keys and
    half from a new-key range, so keys overlap across batches and repeat
    within a batch. ``ts`` is unique over all rows (the in-batch winner is
    never a tie) and grows with the batch index; 20% of batch emails are
    null, so the merge step has to fill them from the existing record."""
    os.makedirs(out_dir, exist_ok=True)
    base_keys = rng.permutation(base_rows).astype(np.int64) * 2
    paths = {"base": os.path.join(out_dir, "base.parquet")}
    # the base is written into the target untimed, so only the batches
    # count as the workload's input rows and bytes
    _write_parquet(
        paths["base"],
        _upsert_table(rng, base_keys, np.arange(base_rows, dtype=np.int64), 0.0),
    )
    size = 0
    new_keys = np.arange(base_rows // 2, dtype=np.int64) * 2 + 1
    for b in range(batches):
        old = rng.choice(base_keys, batch_rows // 2)
        new = rng.choice(new_keys, batch_rows - batch_rows // 2)
        keys = rng.permutation(np.concatenate([old, new]))
        ts = (b + 1) * 10_000_000 + rng.permutation(batch_rows).astype(np.int64)
        paths[f"batch_{b}"] = os.path.join(out_dir, f"batch_{b}.parquet")
        size += _write_parquet(paths[f"batch_{b}"], _upsert_table(rng, keys, ts, 0.2))
    return Inputs(
        paths, rows=batches * batch_rows, bytes=size, truth={"batch_bytes": size}
    )


def gen_ingest_upsert(rng: np.random.Generator, out_dir: str) -> Inputs:
    """The ``ingest`` inputs, then the ``upsert`` inputs, from one stream:
    rows and bytes are the sums of both, ``truth["batch_bytes"]`` the
    upsert batches' bytes alone."""
    a = gen_ingest(rng, os.path.join(out_dir, "ingest"))
    b = gen_upsert(rng, os.path.join(out_dir, "upsert"))
    return Inputs(
        {**a.paths, **b.paths}, a.rows + b.rows, a.bytes + b.bytes, {**a.truth, **b.truth}
    )


# --------------------------------------------------------------------------
# graph: power-law edge list with planted components
# --------------------------------------------------------------------------


def gen_graph(
    rng: np.random.Generator,
    out_dir: str,
    n_vertices: int = GRAPH_VERTICES,
    n_edges: int = GRAPH_EDGES,
    n_components: int = GRAPH_COMPONENTS,
) -> Inputs:
    """``edges.parquet`` (src, dst).

    Vertices are split into ``n_components`` components with Zipf-like
    sizes. Each component is grown by preferential attachment (a new
    vertex links to an endpoint of a uniformly drawn earlier edge, so
    degree is power-law) and then receives extra edges between a
    degree-weighted endpoint and a uniform member. Edges get a random
    direction; parallel edges and self-loops can occur, as in real edge
    lists."""
    os.makedirs(out_dir, exist_ok=True)
    weights = 1.0 / np.arange(1, n_components + 1) ** 0.8
    sizes = np.maximum(2, np.floor(weights / weights.sum() * n_vertices)).astype(int)
    sizes[0] += n_vertices - sizes.sum()
    ids = rng.permutation(n_vertices * 5)[:n_vertices].astype(np.int64)
    src: list[int] = []
    dst: list[int] = []
    comp_ends: list[list[int]] = []
    start = 0
    for size in sizes:
        members = ids[start : start + size]
        start += size
        ends = [members[0]]
        picks = rng.random(size)
        for j in range(1, size):
            # attach to a degree-weighted earlier vertex
            target = ends[int(picks[j] * len(ends))]
            src.append(members[j])
            dst.append(target)
            ends.extend((members[j], target))
        comp_ends.append(ends)
    extra = n_edges - len(src)
    comp_of_edge = rng.choice(len(sizes), extra, p=sizes / sizes.sum())
    u_pick, v_pick = rng.random(extra), rng.random(extra)
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    for c, up, vp in zip(comp_of_edge, u_pick, v_pick):
        ends = comp_ends[c]
        src.append(ends[int(up * len(ends))])
        dst.append(ids[offsets[c] + int(vp * sizes[c])])
    src_a, dst_a = np.array(src, dtype=np.int64), np.array(dst, dtype=np.int64)
    flip = rng.random(len(src_a)) < 0.5
    src_a, dst_a = np.where(flip, dst_a, src_a), np.where(flip, src_a, dst_a)
    order = rng.permutation(len(src_a))
    path = os.path.join(out_dir, "edges.parquet")
    size_b = _write_parquet(path, pa.table({"src": src_a[order], "dst": dst_a[order]}))
    return Inputs({"edges": path}, rows=len(src_a), bytes=size_b)


# --------------------------------------------------------------------------
# curate: corpus with planted near-duplicate clusters
# --------------------------------------------------------------------------


def _prose(rng: np.random.Generator, vocab: list[str], zipf_p: np.ndarray, n_words: int) -> list[str]:
    toks = [vocab[i] for i in rng.choice(len(vocab), n_words, p=zipf_p)]
    for j in np.nonzero(rng.random(n_words) < 0.06)[0]:
        toks[j] += "," if rng.random() < 0.6 else "."
    return toks


def gen_curate(rng: np.random.Generator, out_dir: str, n_docs: int = CURATE_DOCS) -> Inputs:
    """``corpus.parquet`` (doc_id, text), rows in random order.

    A quarter of the documents belong to planted near-duplicate clusters
    of 2-5 members: each member is its cluster's base text with one or two
    word substitutions and a punctuation change, which keeps pairwise
    character-shingle Jaccard far above the 0.7 threshold. The rest are
    singletons spread over quality: prose of varied length (5/8), prose
    diluted with symbol tokens (1/4) and symbol junk (1/8). The counts of
    each kind are fixed, so seeds change the texts but not the amount of
    dedup work. ``truth["clusters"]`` lists the planted clusters as lists
    of doc ids."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = _words(rng, 3000, 2, 10) + ["the", "and", "of", "to", "in", "is"]
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf_p /= zipf_p.sum()
    symbols = list("#$%&*+=<>@^~|")
    sizes: list[int] = []
    while sum(sizes) + 2 + len(sizes) % 4 <= n_docs // 4:
        sizes.append(2 + len(sizes) % 4)
    n_single = n_docs - sum(sizes)
    n_junk, n_diluted = n_single // 8, n_single // 4
    texts: list[str] = []
    members: list[list[int]] = []
    for m in sizes:
        base = _prose(rng, vocab, zipf_p, int(rng.integers(120, 200)))
        members.append(list(range(len(texts), len(texts) + m)))
        for _ in range(m):
            toks = list(base)
            for j in rng.integers(0, len(toks), int(rng.integers(1, 3))):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            j = int(rng.integers(0, len(toks)))
            toks[j] = toks[j].rstrip(",.") if toks[j][-1] in ",." else toks[j] + ","
            texts.append(" ".join(toks))
    for _ in range(n_single - n_junk - n_diluted):
        texts.append(" ".join(_prose(rng, vocab, zipf_p, int(rng.integers(10, 220)))))
    for _ in range(n_diluted):
        toks = _prose(rng, vocab, zipf_p, int(rng.integers(20, 120)))
        dilute = rng.random()
        for j in np.nonzero(rng.random(len(toks)) < dilute)[0]:
            toks[j] = "".join(rng.choice(symbols, int(rng.integers(1, 6))))
        texts.append(" ".join(toks))
    junk_chars = symbols + list("0123456789")
    for _ in range(n_junk):
        texts.append(
            " ".join(
                "".join(rng.choice(junk_chars, int(rng.integers(13, 30))))
                for _ in range(int(rng.integers(3, 30)))
            )
        )
    doc_ids = rng.permutation(n_docs * 4)[:n_docs].astype(np.int64) + 1
    order = rng.permutation(n_docs)
    path = os.path.join(out_dir, "corpus.parquet")
    size = _write_parquet(
        path, pa.table({"doc_id": doc_ids[order], "text": [texts[i] for i in order]})
    )
    clusters = [[int(doc_ids[i]) for i in c] for c in members]
    return Inputs({"corpus": path}, rows=n_docs, bytes=size, truth={"clusters": clusters})


GENERATORS = {
    "ingest": gen_ingest,
    "upsert": gen_upsert,
    "ingest_upsert": gen_ingest_upsert,
    "graph": gen_graph,
    "curate": gen_curate,
}


def generate(workload: str, seed: int, out_dir: str) -> Inputs:
    """Write ``workload``'s inputs for ``seed`` under ``out_dir``."""
    return GENERATORS[workload](np.random.default_rng(seed), out_dir)
