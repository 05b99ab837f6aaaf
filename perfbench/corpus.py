"""`corpus-queries`: the 12 `bench.HEADLINE` queries over a seeded corpus.

The corpus has the schema and row counts of the sf0.01 test tables
(lineitem 60k rows, orders 15k, events 10k, documents 500, embeddings
500 x 64).  It is generated from the seed with numpy and written as
one-row-group parquet files, so the queries see the same layout as on
the test data.  One client runs the queries in a closed loop.  Each pass
runs them in a seed-shuffled order, and each result is computed in full
with a noop-sink write.  The first pass is cold and collects each result
for the oracle check, against each query's `oracle_sql()` result in
DuckDB; it and WARM_PASSES more passes are not timed.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

import numpy as np

from common import WORK, Setup, Spans, dir_bytes, high_percentile, kernel_layers, stop_jvm, time_best

# rows per table: sf0.01 and sf0.001 of the test data
SIZES = {
    "full": dict(lineitem=60_000, orders=15_000, customer=1_500, events=10_000, users=150,
                 documents=500, sources=20, embeddings=500),
    "smoke": dict(lineitem=6_000, orders=1_500, customer=150, events=1_000, users=150,
                  documents=500, sources=20, embeddings=500),
}
# untimed passes after the cold first one: pass times still fall by about
# a quarter over them while the JIT warms up, then hold within a few %
WARM_PASSES = 3
MIN_PASSES = 2  # timed
WORDS = (
    "a agg batch big column data fast filter group hash key line merge order part query "
    "row scan slow small sort spark stream table value vector window join index plan cache"
).split()


def _ts(rng, lo: str, hi: str, n: int):
    lo_us = np.datetime64(lo, "us").astype(np.int64)
    hi_us = np.datetime64(hi, "us").astype(np.int64)
    return rng.integers(lo_us, hi_us, n).astype("datetime64[us]")


def generate(out_dir: str, seed: int, size: str) -> None:
    """Write the seeded corpus as <out_dir>/<table>.parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    s = SIZES[size]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(t.num_rows, 1))

    n = s["lineitem"]
    days = rng.integers(0, (np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int), n)
    write("lineitem", {
        "l_orderkey": rng.integers(0, s["orders"], n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": (np.datetime64("1995-01-02") + days).astype("datetime64[us]"),
    })
    n = s["orders"]
    write("orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, s["customer"], n),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": rng.integers(100_000, 50_000_000, n) / 100.0,
        "o_orderdate": _ts(rng, "1995-01-01", "1998-12-31", n),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n)
        ],
    })
    n = s["customer"]
    write("customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": rng.integers(-99_999, 999_999, n) / 100.0,
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n)
        ],
    })
    write("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    n = s["events"]
    write("events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(_ts(rng, "2024-01-01", "2024-01-31", n)),
        "user_id": rng.integers(0, s["users"], n),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n)],
        "value": rng.integers(0, 56_000, n) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = s["documents"]
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n)]
    for i in range(1, n, 97):  # a few exact duplicates for q_dedup_exact
        texts[i] = texts[i - 1]
    write("documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)],
        "source": [f"src{i % s['sources']}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n = s["embeddings"]
    emb = (rng.standard_normal((n, 64)) * 0.12).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


# -- oracle comparison: the normalization of tests/test_entry_oracle.py ------

def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "item"):
        return _norm_cell(v.item())
    return v


def _norm_rows(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def oracle_mismatch(spark_pdf, duck_pdf) -> str | None:
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {list(spark_pdf.columns)} vs {list(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"row count {len(spark_pdf)} vs {len(duck_pdf)}"
    a, b = _norm_rows(spark_pdf), _norm_rows(duck_pdf)
    bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    return f"{len(bad)} rows differ, first {a[bad[0]]} vs {b[bad[0]]}" if bad else None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(seed: int, seconds: float, trace: bool, size: str, rss) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from bench import HEADLINE

    data = os.path.join(WORK, "corpus")
    qs = entry.queries()
    oracle = entry.oracle_sql()
    spans = Spans()
    failed = 0
    attempted = 0

    def make_inputs(_spark):
        generate(data, seed, size)

    setup = Setup(trace, make_inputs)
    spark = setup()

    # first pass: each query's first execution in the session, with its
    # result collected for the oracle check (DuckDB time not counted)
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    first = 0.0
    t_check = time.perf_counter()
    for q in HEADLINE:
        attempted += 1
        t0 = time.perf_counter()
        got = qs[q](spark, data).toPandas()
        first += time.perf_counter() - t0
        why = oracle_mismatch(got, con.execute(oracle[q]).df())
        if why:
            print(f"corpus-queries: {q} differs from its oracle: {why}", flush=True)
            failed += 1
    con.close()
    print(f"first pass {first:.3f} s, with oracle checks {time.perf_counter() - t_check:.3f} s", flush=True)

    tracker = spark.sparkContext.statusTracker()
    rng = random.Random(seed)
    lat: dict[str, list[float]] = {q: [] for q in HEADLINE}
    passes = []

    def one_pass(label: str) -> dict:
        nonlocal attempted
        order = list(HEADLINE)
        rng.shuffle(order)
        before = set(tracker.getJobIdsForGroup(None)) if trace else set()
        e0 = time.time()
        times = {}
        with spans.span("pass", label=label) as sp:
            for q in order:
                attempted += 1
                t0 = time.perf_counter()
                _noop(qs[q](spark, data))
                times[q] = time.perf_counter() - t0
        sp["epoch"] = (e0, time.time())
        sp["times"] = times
        print(f"pass {label}: {sp['end'] - sp['start']:.3f} s", flush=True)
        if trace:
            sp["jobs"] = sorted(set(tracker.getJobIdsForGroup(None)) - before)
        return sp

    for i in range(WARM_PASSES):
        one_pass(f"warm-{i + 1}")
    t_start = time.perf_counter()
    with rss.window():
        while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
            sp = one_pass(str(len(passes) + 1))
            for q, t in sp["times"].items():
                lat[q].append(t)
            passes.append(sp)

    med = {q: statistics.median(v) for q, v in lat.items()}
    pooled = [x for v in lat.values() for x in v]
    pct, tail = high_percentile(pooled)
    out = {
        "attempted": attempted,
        "failed": failed,
        "step_s": sum(med.values()),
        "table": [
            ("first_pass_s", first, "s"),
            ("queries_total_s", sum(med.values()), "s"),
            (f"query_p{pct:.0f}_s (n={len(pooled)})", tail, "s"),
            ("passes", len(passes), "count"),
        ],
    }

    if trace:
        out["app_id"] = spark.sparkContext.applicationId
        layers = {"query.first_pass_s": first}
        for q in HEADLINE:
            layers[f"query.{q}_s"] = med[q]
            layers[f"query.{q}.plan_s"] = time_best(
                lambda q=q: qs[q](spark, data)._jdf.queryExecution().executedPlan(), 0.05
            )
        urls = entry._doc_pages(spark, data).select("url").toPandas()["url"]
        layers.update(kernel_layers(urls))
        layers["trace.step_s"] = out["step_s"]
        out["layers"] = layers
        out["spans"] = spans
        out["steps"] = [(p["jobs"], *p["epoch"]) for p in passes]
    else:
        setup()  # more set-up samples, after the timed passes
        setup()
    out["setup_s"] = setup.median
    out["table"].append(("corpus_bytes", dir_bytes(data), "B"))
    stop_jvm()
    return out
