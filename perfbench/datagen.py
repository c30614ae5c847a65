"""Seeded inputs for the benchmark: the tables the engine reads and the
request plan the benchmark replays.

Tables follow the repo's testdata layout (one `<name>.parquet` per table,
same columns and types), scaled down so a run fits its time budget. The
same seed always gives byte-identical tables and the same plan.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts. Documents and vectors keep the testdata ratio (5:2); the
# held-out quarter of the vectors (vec_id % 4 == 3) is the ingest pool.
# The batch tables keep the testdata's columns, scaled down so a pass of
# the batch jobs fits the loop several times.
SIZES = {"documents": 1000, "embeddings": 400, "customer": 3000, "lineitem": 120000,
         "events": 20000}
N_NATIONS = 25
N_USERS = 1500          # as in the testdata: 60 users per nation
DIMS = 64
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# Request plan shape.
SERVES = 1000           # serve requests, each drawn fresh (more than any run uses)
PASSES = 200            # batch passes, each a seeded job order (more than any run uses)
INGEST_BATCH = 8        # held-out vectors (and their docs) in the ingest commit
ALLOWED_LABELS = 5      # serves filter to vectors with label < 5
# One-shot jobs from SparkEntry.queries: the reference's batch pipelines
# (weblog sessionizer, NYC count-and-enrich, dynamic transpose) and the
# brute-force kNN kernel. x78 (IVF-PQ kNN, ~3.5 s) would more than double
# a pass; the set-up's ANN build runs the same PQ encoding.
BATCH_JOBS = ("pipeline_weblog", "j2_count_enrich", "a6_transpose", "x8_knn_brute")
KNN_QUERIES = 8         # x8 queries the vectors with vec_id < 8


def _documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k)))
    # near duplicates (one marker token appended), as in the testdata
    for d in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, DIMS)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
    })


def _nation():
    return pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], type=pa.int32()),
    })


def _customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": list(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                         "HOUSEHOLD", "MACHINERY"], n)),
    })


def _lineitem(rng, n):
    # whole quantities, as in the testdata: their sums are exact in any order
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n), type=pa.int64()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": list(rng.choice(["F", "O"], n)),
    })


def _events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), type=pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n), type=pa.int64()),
        "event_type": list(rng.choice(["view", "click", "error"], n)),
        "value": np.round(rng.uniform(0, 200, n), 2),
    })


def write_tables(seed, out_dir):
    """Write every input table under `out_dir`; return them by name."""
    rng = np.random.default_rng([seed, 1])
    tables = {
        "documents": _documents(rng, SIZES["documents"]),
        "embeddings": _embeddings(rng, SIZES["embeddings"]),
        "nation": _nation(),
        "customer": _customer(rng, SIZES["customer"]),
        "lineitem": _lineitem(rng, SIZES["lineitem"]),
        "events": _events(rng, SIZES["events"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables


def row_bytes(tables, ids):
    """Bytes of the user rows the serving stack ingests for `ids`: each
    document row plus its aligned vector row, counted as the raw column
    values (8 per long, 4 per int/float, UTF-8 length per string).
    """
    docs = tables["documents"].to_pydict()
    total = 0
    for i in ids:
        total += 8 + len(docs["text"][i].encode()) + len(docs["lang"][i]) \
            + len(docs["source"][i]) + 8
        total += 8 + 4 * DIMS + 4
    return total


def make_plan(seed, tables):
    """The request plan: serve requests, the ingest batch, batch job orders."""
    rng = np.random.default_rng([seed, 2])
    n_vec = tables["embeddings"].num_rows
    base = [i for i in range(n_vec) if i % 4 != 3]
    held = [i for i in range(n_vec) if i % 4 == 3]

    def request(rid):
        terms = sorted(set(rng.choice(VOCAB, size=int(rng.integers(2, 4)),
                                      replace=False).tolist()))
        return {"id": rid, "terms": terms, "qvec": int(rng.choice(base))}

    serves = [request(i) for i in range(SERVES)]
    ingest = {"id": "b1", "ids": sorted(rng.choice(held, INGEST_BATCH, replace=False)
                                        .tolist())}
    passes = [[BATCH_JOBS[j] for j in rng.permutation(len(BATCH_JOBS))]
              for _ in range(PASSES)]
    labels = tables["embeddings"].column("label").to_pylist()
    allowed = [i for i, lab in enumerate(labels) if lab < ALLOWED_LABELS]
    return {"seed": seed, "base_ids": base, "allowed_ids": allowed,
            "serves": serves, "ingest_batch": ingest, "batch_passes": passes,
            "allowed_labels_below": ALLOWED_LABELS}


def write_plan(plan, path):
    with open(path, "w") as f:
        json.dump(plan, f)
