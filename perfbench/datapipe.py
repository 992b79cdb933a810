"""datapipe_hot: ten ``__spark_entry__.queries()`` entries that have an
``oracle_sql()``, each under its own job group, over documents and
embeddings tables generated from the seed in the schema of the
repository's synthetic testdata tables. Each pass runs the ten in order;
passes repeat for the run's measuring time. Results are checked against
the DuckDB oracles after the timed region, the way
``scripts/selftest.py`` compares them.
"""

from __future__ import annotations

import os
import time

from perfbench import checks, gen
from perfbench.proctree import ProcTree, cpu_delta
from perfbench.runtime import median, process_age, stop_spark

QUERIES = (
    "contamination", "substring_dedup", "dedup_ngram_jaccard",
    "fuzzy_dedup", "corpus_curate", "incremental_dedup", "kmv_distinct",
    "stratified_sample", "dsir_sample", "emb_neardup",
)
N_DOCS = 150          # documents rows
N_VECS = 150          # embeddings rows
REGISTER_REPS = 3     # table registrations timed for setup_s


def write_tables(seed: int, d: str) -> dict[str, int]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    docs = gen.documents(seed, N_DOCS)
    pq.write_table(pa.table(docs), os.path.join(d, "documents.parquet"))
    emb = gen.embeddings(seed, N_VECS)
    pq.write_table(pa.table({
        "vec_id": emb["vec_id"],
        "embedding": pa.array(emb["embedding"], pa.list_(pa.float32())),
        "label": emb["label"],
    }), os.path.join(d, "embeddings.parquet"))
    return {"documents": N_DOCS, "embeddings": N_VECS}


def datapipe_hot(seed: int, seconds: float, trace: bool, run_dir: str,
                 spans):
    with spans.span("session.start"):
        from xenoeye_spark.session import get_spark

        spark = get_spark("perfbench-datapipe")
    session_s = process_age()
    import __spark_entry__ as entry

    data = os.path.join(run_dir, "data")
    sizes = write_tables(seed, data)
    reg = []
    for _ in range(REGISTER_REPS):
        t = time.perf_counter()
        with spans.span("tables.register"):
            for name in sizes:
                spark.read.parquet(os.path.join(data, f"{name}.parquet")) \
                    .createOrReplaceTempView(name)
        reg.append(time.perf_counter() - t)
    fns = entry.queries()
    # input rows one pass reads: emb_neardup reads embeddings, the rest
    # documents
    items = sum(sizes["embeddings" if q == "emb_neardup" else "documents"]
                for q in QUERIES)
    wall: dict[str, list[float]] = {q: [] for q in QUERIES}
    cpu: dict[str, list[dict]] = {q: [] for q in QUERIES}
    results: dict[str, list] = {q: [] for q in QUERIES}
    passes, pass_cpu = [], []
    sc = spark.sparkContext
    with ProcTree() as tree:
        t_end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < t_end:
            p0, c0 = time.perf_counter(), tree.cpu()
            for q in QUERIES:
                sc.setJobGroup(f"{q}#{len(passes)}", q)
                t, c = time.perf_counter(), tree.cpu()
                with spans.span("datapipe.query", query=q):
                    df = fns[q](spark, data)
                    rows = [tuple(r) for r in df.collect()]
                wall[q].append(time.perf_counter() - t)
                cpu[q].append(cpu_delta(c, tree.cpu()))
                results[q].append((list(df.columns), rows))
            passes.append(time.perf_counter() - p0)
            pass_cpu.append(cpu_delta(c0, tree.cpu()))
        sc.setJobGroup("perfbench-idle", "")
    ck = _check(entry, data, sizes, results)
    e2e = {
        "setup_s": session_s + median(reg),
        "items_per_s": median([items / w for w in passes]),
        "items_per_cpu_s": median([items / c["total"] for c in pass_cpu]),
        "query_s": median(passes),
    }
    layers = {}
    if trace:
        layers = {f"cpu.{k}_s": median([c[k] for c in pass_cpu])
                  for k in ("driver", "jvm", "pyworker")}
        layers["session.start_s"] = session_s
        layers["mem.peak_rss_mb"] = tree.peak_rss / 2**20
        for q in QUERIES:
            layers[f"datapipe.{q}.wall_s"] = median(wall[q])
            layers[f"datapipe.{q}.cpu_s"] = median(
                [c["total"] for c in cpu[q]])
    stop_spark(spark)
    if trace:
        layers.update(_event_layers(run_dir, len(passes)))
    return ck, e2e, layers, {"passes": len(passes), "items": items}


def _check(entry, data: str, sizes, results) -> checks.Checks:
    import duckdb

    from scripts.selftest import rowset

    ck = checks.Checks()
    con = duckdb.connect()
    for name in sizes:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{data}/{name}.parquet')")
    oracles = entry.oracle_sql()
    for q in QUERIES:
        res = con.execute(oracles[q])
        ocols = [d[0] for d in res.description]
        want = (sorted(ocols), rowset(ocols, res.fetchall()))
        for i, (cols, rows) in enumerate(results[q]):
            ck.expect(f"{q} pass {i} vs oracle",
                      (sorted(cols), rowset(cols, rows)), want)
    return ck


def _event_layers(run_dir: str, n_passes: int) -> dict:
    from perfbench.tracing import EventLog

    log = EventLog(os.path.join(run_dir, "eventlog"))
    out = {}
    timed = log.stages_of(lambda g, _q: g is not None and "#" in g)
    n_jobs = len(log.jobs_of(lambda g, _q: g is not None and "#" in g))
    out.update({k: v / n_passes for k, v in log.totals(timed, n_jobs)
                .items()})
    for q in QUERIES:
        def mine(g, _q, q=q):
            return g is not None and g.split("#")[0] == q
        stages = log.stages_of(mine)
        out[f"datapipe.{q}.jobs"] = len(log.jobs_of(mine)) / n_passes
        out[f"datapipe.{q}.shuffle_mb"] = (
            log.sum_stages(stages, "shuffle_write_mb") / n_passes)
    return out
