"""The workloads: closed loops with one client, each operation timed with
its action included and checked against NumPy.

Every workload first builds its fixtures (``vector_init``,
``vector_quantize``, ``vector_quantize_preload``) once untimed, because the
first build in a JVM does not repeat, then ``SETUP_BUILDS`` times timed;
``setup_s`` is the median. Then it runs a few untimed warm-up operations
(``warmup_ops`` in ``SIZES``), because JIT warm-up makes the first ones
slow, and measures until ``seconds`` have passed.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen

DIM = 128
K = gen.K
SETUP_BUILDS = 3
OPTIONS = f"type=FLOAT32,dimension={DIM},distance=L2"

#: stated input sizes, one entry per workload
SIZES = {
    "batch-join": {"corpus_rows": 10000, "dim": DIM, "k": K, "queries_per_join": 8, "batch_pool": 40,
                   "warmup_ops": 3},
    "churn": {"corpus_rows": 10000, "dim": DIM, "k": K, "batch_rows": 200, "reads_per_cycle": 1,
              "cycle_pool": 40, "query_pool": 100, "warmup_cycles": 2},
}


@dataclass
class Run:
    """What one workload run measured."""

    setup_s: list[float] = field(default_factory=list)
    reads: list[float] = field(default_factory=list)
    writes: list[float] = field(default_factory=list)
    pairs: int = 0  # (query x live corpus row) pairs scored by measured operations
    recall: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    ops: list[dict] = field(default_factory=list)  # per measured op: kind, wall_s, results
    store_files: int = 0  # Parquet files of the replica at the end
    store_bytes: int = 0  # on-disk bytes of the replica at the end
    live_rows: int = 0
    phases: dict = field(default_factory=dict)  # wall-clock seconds of set-up and warm-up

    def measure(self, tracer, kind: str, action, check, results=None):
        """Time ``action()`` as one operation, then ``check`` its output
        untimed; ``check`` returns None or why the output is wrong. An
        exception fails the operation and the run goes on."""
        t0 = time.perf_counter()
        out, error = None, None
        try:
            with tracer.op(kind, len(self.ops)):
                out = action()
            wall = time.perf_counter() - t0
            error = check(out)
        except Exception as exc:  # counted against the attempts, never raised
            wall, error = time.perf_counter() - t0, repr(exc)
        self.attempted += 1
        (self.writes if kind == "write" else self.reads).append(wall)
        n = results if results is not None else len(out or [])
        self.ops.append({"kind": kind, "wall_s": wall, "results": n})
        if error:
            self.failed += 1
            if len(self.failures) < 5:
                self.failures.append(f"{kind} #{len(self.ops) - 1}: {error}")
        return out


@dataclass
class Fixture:
    catalog: object
    dest: str
    params: object
    codes: object  # the preloaded replica DataFrame


def store_stats(path: str) -> tuple[int, int]:
    """(Parquet files, bytes of all files) under ``path``."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    return sum(f.endswith(".parquet") for f in files), sum(os.path.getsize(f) for f in files)


def build_fixture(spark, work: str, data: str, table: str, i: int) -> Fixture:
    """Register ``table`` over the Parquet at ``data`` and build its
    preloaded quantized replica, as a user of the library would."""
    from sqlite_vector_spark import catalog as catalog_mod
    from sqlite_vector_spark import sinks
    from sqlite_vector_spark.operators import quantize

    spark.read.parquet(data).createOrReplaceTempView(table)
    cat = catalog_mod.VectorCatalog(os.path.join(work, f"catalog-{i}"))
    cat.vector_init(spark.table(table), table, "emb", OPTIONS)
    dest = os.path.join(work, f"replica-{i}")
    params = quantize.vector_quantize(spark.table(table), "emb", dest, catalog=cat, table=table)
    codes = quantize.vector_quantize_preload(sinks.read_store(spark, dest))
    return Fixture(cat, dest, params, codes)


def setup(spark, run: Run, work: str, data: str, table: str) -> Fixture:
    t_setup = time.perf_counter()
    fx = build_fixture(spark, work, data, table, 0)
    for i in range(1, SETUP_BUILDS + 1):
        fx.codes.unpersist(blocking=True)
        shutil.rmtree(fx.dest)
        t0 = time.perf_counter()
        fx = build_fixture(spark, work, data, table, i)
        run.setup_s.append(time.perf_counter() - t0)
    run.phases["setup"] = time.perf_counter() - t_setup
    return fx


def _same_topk(got_ids, got_d, want_ids, want_d, tol: float = 1e-9) -> str | None:
    """None when ``got`` is ``want`` up to ties broken by id, else why not."""
    got_ids, got_d = np.asarray(got_ids), np.asarray(got_d, dtype=np.float64)
    if len(got_ids) != len(want_ids):
        return f"{len(got_ids)} rows, want {len(want_ids)}"
    if not np.allclose(got_d, want_d, rtol=tol, atol=tol):
        return f"distances {got_d.tolist()} != {np.asarray(want_d).tolist()}"
    for i in np.nonzero(got_ids != want_ids)[0]:
        # an id may differ only where its distance ties another within tol
        ties = np.isclose(want_d, got_d[i], rtol=tol, atol=tol)
        if got_ids[i] not in set(want_ids[ties].tolist()):
            return f"id {got_ids[i]} at rank {i + 1}, want {want_ids[i]}"
    return None


# ------------------------------------------------------------------ batch-join


def batch_join(spark, inp: gen.BatchJoinInputs, work: str, data_root: str, seconds: float,
               tracer) -> Run:
    from sqlite_vector_spark import router

    cfg = SIZES["batch-join"]
    run = Run()
    fx = setup(spark, run, work, os.path.join(data_root, "corpus"), "corpus")
    # the join reads the corpus from Parquet on every operation
    fx.codes.unpersist(blocking=True)

    # the query batches are small and a user holds them already: read once,
    # untimed, so an operation times the join and not the benchmark's reads
    batches = [spark.read.parquet(f) for f in inp.batch_files]

    def join(b):
        return router.knn_join(spark, fx.catalog, "corpus", "emb", batches[b], K, prefer="exact").collect()

    t0 = time.perf_counter()
    for i in range(cfg["warmup_ops"]):
        join(i % len(inp.batch_files))
    run.phases["warmup"] = time.perf_counter() - t0
    n = len(inp.corpus.ids)

    def check(b, rows):
        want_ids, want_d = inp.truth[b]
        qid0 = b * len(want_ids)
        per_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            per_q.setdefault(r["qid"], []).append(r)
        if sorted(per_q) != list(range(qid0, qid0 + len(want_ids))):
            return f"query ids {sorted(per_q)[:3]}..., want {qid0}.."
        for q, got in per_q.items():
            j = q - qid0
            run.recall.append(len({r["id"] for r in got} & set(want_ids[j].tolist())) / K)
            error = _same_topk([r["id"] for r in got], [r["distance"] for r in got], want_ids[j], want_d[j])
            if error:
                return f"query {q}: {error}"
        return None

    t_end = time.perf_counter() + seconds
    i = cfg["warmup_ops"]
    while time.perf_counter() < t_end:
        b = i % len(inp.batch_files)
        run.measure(tracer, "join", lambda: join(b), lambda rows: check(b, rows))
        run.pairs += n * len(inp.truth[b][0])
        i += 1
    (run.store_files, run.store_bytes), run.live_rows = store_stats(fx.dest), n
    return run


# ------------------------------------------------------------------ churn


def churn(spark, inp: gen.ChurnInputs, work: str, data_root: str, seconds: float, tracer) -> Run:
    from sqlite_vector_spark import sinks, sql
    from sqlite_vector_spark.operators import quantize

    cfg = SIZES["churn"]
    run = Run()
    fx = setup(spark, run, work, os.path.join(data_root, "docs"), "docs")
    queries = gen.read_vectors(os.path.join(data_root, "queries"))
    params = fx.params
    # the replica as NumPy sees it: ids, codes and float vectors of live rows
    live_ids = inp.corpus.ids.copy()
    live_vecs = inp.corpus.vecs.copy()

    def write(c):
        nonlocal params
        new = spark.read.parquet(inp.append_files[c])
        params = quantize.vector_quantize_update(new, "emb", fx.dest, params, catalog=fx.catalog,
                                                 table="docs").params
        sinks.delete_ids(spark, fx.dest, spark.read.parquet(inp.delete_files[c]))

    def apply_to_model(c):
        nonlocal live_ids, live_vecs
        keep = ~np.isin(live_ids, inp.deletes[c])
        live_ids = np.concatenate([live_ids[keep], inp.appends[c].ids])
        live_vecs = np.concatenate([live_vecs[keep], inp.appends[c].vecs])

    def check_store(c) -> str | None:
        ids = pq.read_table(fx.dest, columns=["id"]).column("id").to_numpy()
        if not np.isin(inp.appends[c].ids, ids).all():
            return "appended ids missing"
        if np.isin(inp.deletes[c], ids).any():
            return "deleted ids present"
        if len(ids) != len(live_ids) or not np.array_equal(np.sort(ids), np.sort(live_ids)):
            return f"store holds {len(ids)} ids, want {len(live_ids)}"
        return None

    def search(q):
        text = (f"SELECT rowid, distance FROM vector_quantize_scan('docs','emb', "
                f"vector_as_f32('{gen.vec_text(q)}'), {K})")
        return sql.route_sql(spark, fx.catalog, text).collect()

    t0 = time.perf_counter()
    for c in range(cfg["warmup_cycles"]):
        write(c)
        apply_to_model(c)
        search(queries[c % len(queries)])
    run.phases["warmup"] = time.perf_counter() - t0

    def check_write(c):
        apply_to_model(c)
        return check_store(c)

    def check_search(q, rows):
        codes = gen.s8_codes(live_vecs, inp.scale)
        want_ids, want_d = gen.code_topk(live_ids, codes, gen.s8_codes(q, inp.scale))
        exact_ids, _ = gen.exact_topk(gen.Corpus(live_ids, live_vecs), q[None, :])
        run.recall.append(len({x[0] for x in rows} & set(exact_ids[0].tolist())) / K)
        return _same_topk([x[0] for x in rows], [x[1] for x in rows], want_ids, want_d)

    t_end = time.perf_counter() + seconds
    c, r = cfg["warmup_cycles"], cfg["warmup_cycles"]
    while time.perf_counter() < t_end and c < len(inp.append_files):
        run.measure(tracer, "write", lambda: write(c), lambda _: check_write(c),
                    results=len(inp.appends[c].ids) + len(inp.deletes[c]))
        for _ in range(cfg["reads_per_cycle"]):
            q = queries[r % len(queries)]
            run.measure(tracer, "search", lambda: search(q), lambda rows: check_search(q, rows))
            run.pairs += len(live_ids)
            r += 1
        c += 1
    (run.store_files, run.store_bytes), run.live_rows = store_stats(fx.dest), len(live_ids)
    return run


WORKLOADS = {"batch-join": batch_join, "churn": churn}


def make_inputs(name: str, root: str, seed: int):
    cfg = SIZES[name]
    if name == "batch-join":
        return gen.batch_join(root, seed, cfg["corpus_rows"], DIM, cfg["queries_per_join"], cfg["batch_pool"])
    return gen.churn(root, seed, cfg["corpus_rows"], DIM, cfg["batch_rows"], cfg["cycle_pool"], cfg["query_pool"])
