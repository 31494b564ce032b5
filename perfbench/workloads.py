"""The benchmark's workloads. Each takes a `Run` (see run.py), sets up its
inputs from the run's seed, warms every timed operation once, times
its operations for the run's seconds, checks every output, and leaves
its numbers on the run.

Every timed operation forces its result (`collect`/`count`) inside the
timed window; every check runs after the window and outside `setup_s`.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from information_retrieval_spark import dedup, textstats
from information_retrieval_spark.build import IndexBuilder, IndexConfig
from information_retrieval_spark.corpus import (DOCUMENTS_SCHEMA,
                                                load_testdata_documents)
from information_retrieval_spark.oracle import OracleIndex
from information_retrieval_spark.query import QueryEngine
from information_retrieval_spark.streaming.incremental import \
    IncrementalIndexer

from . import gen, probes

# 256 docIDs per bucket (32-doc blocks): a few-thousand-doc corpus spans
# tens of docID buckets, as a large one spans millions, so block-max
# WAND has buckets to prune and the bucket shuffle has keys to spread.
CONFIG = IndexConfig(docs_per_block=32, blocks_per_bucket=8)
INGEST_BASE_DOCS = 400
INGEST_BATCH_DOCS = 50
INGEST_RESEND_SHARE = 0.1
INGEST_PLANTED = 5
# the fixed sample of the testdata documents that `curate` starts from
# (written by sample_docs.py)
CURATE_SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "data", "documents.parquet")
QUERY_PROBES = 2
K = 10

_DOC_COLS = ["repo", "path", "commit", "lang", "content"]
_TESTDATA_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _write_parquet(path: str, rows, names) -> None:
    cols = list(zip(*rows))
    pq.write_table(pa.table({n: list(c) for n, c in zip(names, cols)}), path)


def _load_code_corpus(run, rows, name: str):
    """Code-corpus rows -> a parquet file in the run's work dir -> a
    cached DataFrame spread over the session's cores."""
    path = os.path.join(run.work, name)
    _write_parquet(path, rows, _DOC_COLS)
    with run.span("corpus.load"):
        t0 = time.perf_counter()
        df = (run.spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)
              .repartition(run.cores).cache())
        n = df.count()
        run.layer["corpus.load_s"] = time.perf_counter() - t0
    return df, n


def _index_io(index_dir: str) -> dict:
    """io.<table>_bytes for every index table, and io.postings_files."""
    out = {}
    for entry in sorted(os.listdir(index_dir)):
        full = os.path.join(index_dir, entry)
        if not os.path.isdir(full) or entry.startswith("tmp"):
            continue
        nbytes, files = probes.dir_bytes(full)
        table = entry.split("@")[0]
        out[f"io.{table}_bytes"] = out.get(f"io.{table}_bytes", 0) + nbytes
        if table == "postings":
            out["io.postings_files"] = out.get("io.postings_files", 0) + files
    return out


def _build_index(run, docs, index_dir: str):
    """`IndexBuilder.build(resume=False)` into an emptied directory."""
    shutil.rmtree(index_dir, ignore_errors=True)
    builder = IndexBuilder(run.spark, index_dir, CONFIG)
    with run.span("build") as sp:
        idx = builder.build(docs, resume=False)
    if sp:
        run.keep_counts("build.", sp)
        run.layer.update({f"build.{k}_s": v
                          for k, v in builder.stage_times.items()})
    return idx


# -- queries ------------------------------------------------------------------

def _same_ranking(a, b, tol: float = 1e-9) -> bool:
    return len(a) == len(b) and all(
        x[0] == y[0] and x[2] == y[2]
        and abs(x[1] - y[1]) <= tol * max(1.0, abs(y[1]))
        for x, y in zip(a, b))


def _set_query(qe, kind: str, q: str) -> list:
    fn = {"boolean": qe.boolean_docs, "positional": qe.positional_docs,
          "phrase": qe.phrase_docs, "joker": qe.joker_docs}[kind]
    return sorted(r["docID"] for r in fn(q).collect())


def _bm25(qe, q: str, **kw) -> list:
    return [(r["docID"], r["score"], r["name"])
            for r in qe.bm25(q, k=K, **kw).collect()]


# block-max WAND with its cost gate open: the gate's block-count threshold
# is sized for indexes far larger than a benchmark corpus, so the default
# call scores exhaustively here and this one exercises the pruning
FORCED_WAND = {"wand": True, "wand_gate_blocks": 0}


def _add_counts(run, name: str, span: dict) -> None:
    """Add a traced call's Spark counts to `query.<name>_{jobs,...}`."""
    if span:
        for k, v in run.tracer.tree(span).items():
            key = f"query.{name}_{k}"
            run.layer[key] = run.layer.get(key, 0) + v


def _set_queries_match(run, qe, oracle, stream) -> None:
    """One query of each set kind, compared with the oracle by name; their
    summed Spark counts are `query.setq_*`."""
    for kind in ("boolean", "positional", "phrase", "joker"):
        q = next(q for k, q in stream if k == kind)
        with run.span(f"query.{kind}") as sp:
            got = sorted(oracle.name(d) for d in _set_query(qe, kind, q))
        _add_counts(run, "setq", sp)
        run.check(got == sorted(getattr(oracle, kind)(q)),
                  f"{kind} {q!r}: differs from the oracle")


def _ranked_match(run, qe, oracle, stream) -> None:
    """bm25 top-k against the oracle (docIDs and scores): one `bm25_many`
    batch (exhaustive scoring) and one `bm25` call with block-max WAND
    pruning forced on; the batch's Spark counts are `query.many_*`."""
    many = next(q for k, q in stream if k == "many")
    with run.span("query.bm25_many") as sp:
        rows = qe.bm25_many(many, k=K).collect()
    _add_counts(run, "many", sp)
    for qid, qs in many.items():
        got = [(r["docID"], r["score"], r["name"]) for r in rows
               if r["qid"] == qid]
        run.check(_same_ranking(got, oracle.bm25(qs, k=K), tol=1e-6),
                  f"bm25_many {qs!r}: differs from the oracle")
    q = next(q for k, q in stream if k == "bm25")
    run.check(_same_ranking(_bm25(qe, q, **FORCED_WAND),
                            oracle.bm25(q, k=K), tol=1e-6),
              f"bm25 {q!r} with WAND pruning: differs from the oracle")


def _query_probes(run, new_engine, stream) -> None:
    """Traced run only: isolated calls that split bm25 into its layers,
    over QUERY_PROBES fixed bm25 queries of the seeded stream, on fresh
    engines (so the engine's driver-side term cache starts empty). The bm25 calls'
    summed Spark counts are `query.bm25_*`.

    First the queries run as plain `bm25` calls with the engine's
    `term_stats` wrapped in a span: a lookup that submits no Spark job
    was served from the term cache (query.term_cache_hit_share). Then,
    on a second fresh engine, per query: lookup = `term_stats` (cold);
    scan = `blocks_for(...).count()`; decode = `postings_for(...)
    .count()` minus the scan; bm25 with the lookup now cached, so its
    self time (kernel + exchange + top-k) is bm25 minus the scan; the
    WAND ratio is exhaustive time over forced-pruning time, and the two
    rankings must agree."""
    from information_retrieval_spark.normalize import normalize

    bm25_q = [q for k, q in stream if k == "bm25"][:QUERY_PROBES]

    qe = new_engine()
    inner, lookups = qe.term_stats, []

    def term_stats(terms):
        with run.span("query.term_stats") as sp:
            out = inner(terms)
        lookups.append(sp["jobs"])
        return out

    qe.term_stats = term_stats
    for q in bm25_q:
        with run.span("query.bm25_stream"):
            _bm25(qe, q)
    run.layer["query.term_cache_hit_share"] = (
        sum(1 for j in lookups if j == 0) / len(lookups))

    qe = new_engine()
    look, scan, dec, b25, self_t, wand, exh = ([] for _ in range(7))
    for q in bm25_q:
        terms = sorted({t for t in map(normalize, q.split()) if t})
        with run.span("query.lookup"):
            t0 = time.perf_counter()
            qe.term_stats(terms)
            look.append(time.perf_counter() - t0)
        with run.span("query.blocks_scan"):
            t0 = time.perf_counter()
            qe.blocks_for(terms).count()
            scan.append(time.perf_counter() - t0)
        with run.span("query.postings_decode"):
            t0 = time.perf_counter()
            qe.postings_for(terms).count()
            dec.append(time.perf_counter() - t0 - scan[-1])
        with run.span("query.bm25") as sp:
            t0 = time.perf_counter()
            _bm25(qe, q)
            b25.append(time.perf_counter() - t0)
        _add_counts(run, "bm25", sp)
        self_t.append(b25[-1] - scan[-1])
        with run.span("query.bm25_wand"):
            t0 = time.perf_counter()
            pruned = _bm25(qe, q, **FORCED_WAND)
            wand.append(time.perf_counter() - t0)
        with run.span("query.bm25_exhaustive"):
            t0 = time.perf_counter()
            full = _bm25(qe, q, wand=False)
            exh.append(time.perf_counter() - t0)
        run.check(_same_ranking(pruned, full),
                  f"bm25 {q!r}: wand=True differs from wand=False")
    run.layer.update({
        "query.term_stats_ms": 1e3 * statistics.median(look),
        "query.blocks_scan_ms": 1e3 * statistics.median(scan),
        "query.decode_ms": 1e3 * statistics.median(dec),
        "query.bm25_ms": 1e3 * statistics.median(b25),
        "query.bm25_self_ms": 1e3 * statistics.median(self_t),
        "query.wand_ratio": sum(exh) / sum(wand),
    })


# -- ingest -------------------------------------------------------------------

def _build_matches(run, idx, rows) -> None:
    """The built index holds every doc, with the sha256 of its content."""
    run.check(int(idx.stats["n_docs"]) == len(rows),
              f"stats.n_docs {idx.stats['n_docs']} != {len(rows)} docs")
    want = {r[1]: hashlib.sha256(r[4].encode()).hexdigest() for r in rows}
    got = (idx.table("doc_sha").join(idx.table("doc_map"), "docID")
           .select("path", "sha256").collect())
    run.check(len(got) == len(rows)
              and all(want.get(r["path"]) == r["sha256"] for r in got),
              "doc_sha differs from the sha256 of the doc contents")


def _ingest_base(seed: int) -> list:
    return [r[:4] + (f"{r[4]} doc{i}z",) for i, r in
            enumerate(gen.code_corpus(INGEST_BASE_DOCS, seed))]


def _ingest_batch(seed: int, b: int) -> tuple:
    """Micro-batch `b`: new docs, plus a seeded share of base paths
    re-sent with new content. Every doc carries its own `doc<i>z` token
    (so a path's live versions can be counted) and the batch plants its
    `plant<b>x` token in INGEST_PLANTED docs. Returns (rows, planted
    names, re-sent doc numbers)."""
    import numpy as np

    n_resend = int(INGEST_BATCH_DOCS * INGEST_RESEND_SHARE)
    n_new = INGEST_BATCH_DOCS - n_resend
    first = INGEST_BASE_DOCS + b * n_new
    rows = [r[:4] + (f"{r[4]} doc{first + k}z",) for k, r in
            enumerate(gen.code_corpus(n_new, seed, first=first))]
    rng = np.random.Generator(np.random.Philox(key=[seed, 9000 + b]))
    resend_ids = sorted(int(i) for i in rng.choice(
        INGEST_BASE_DOCS, n_resend, replace=False))
    edits = gen.code_corpus(n_resend, seed, first=10**7 + b * n_resend)
    for i, e in zip(resend_ids, edits):
        r = gen.code_corpus(1, seed, first=i)[0]  # the path being re-sent
        rows.append(r[:2] + (e[2],) + r[3:4] + (f"{e[4]} doc{i}z",))
    planted = set(int(j) for j in
                  rng.choice(len(rows), INGEST_PLANTED, replace=False))
    rows = [r[:4] + (f"{r[4]} plant{b}x",) if j in planted else r
            for j, r in enumerate(rows)]
    return rows, {rows[j][1].split("/")[-1] for j in planted}, resend_ids


def _engine(run, idx) -> QueryEngine:
    """A new engine with the default cached dictionary and doc_map.
    Spark matches cached plans by table path, so an earlier engine's
    cache over the same live directory would serve its stale rows to
    this one (the probe would miss the newest batch), and to the
    indexer's own reads of those tables. So the session's cache is
    cleared before every new engine, and again once an engine's calls
    are done, both outside every timed window."""
    run.spark.catalog.clearCache()
    return QueryEngine(idx)


def ingest(run) -> None:
    base = _ingest_base(run.seed)
    stream = gen.query_stream(200, run.seed)
    docs, _ = _load_code_corpus(run, base, "base.parquet")
    index_dir = os.path.join(run.work, "index")
    base_idx = _build_index(run, docs, index_dir)
    if run.trace:
        # the static base index against its inputs and the oracle, in
        # traced runs only (~10 s)
        with run.checking():
            _build_matches(run, base_idx, base)
            qe = _engine(run, base_idx)
            oracle = OracleIndex((r[0], r[1], r[4]) for r in base)
            _ranked_match(run, qe, oracle, stream)
            _set_queries_match(run, qe, oracle, stream)
            run.spark.catalog.clearCache()
    inc = IncrementalIndexer(run.spark, index_dir, CONFIG)

    commit, fresh, compact = [], [], []
    resent: set = set()
    pos = {"b": 0}

    def batch():
        """One micro-batch: the upsert commit, then a fresh engine's
        bm25 probe for the batch's planted token. Returns the seconds
        of each."""
        b = pos["b"]
        pos["b"] += 1
        rows, planted, resend_ids = _ingest_batch(run.seed, b)
        path = os.path.join(run.work, f"batch{b}.parquet")
        _write_parquet(path, rows, _DOC_COLS)
        df = run.spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)
        with run.span("incremental.append") as sp:
            t0 = time.perf_counter()
            inc.append_batch(df, batch_id=b, supersede=True)
            dt = time.perf_counter() - t0
        if sp:
            run.keep_counts("incremental.append_", sp)
        idx = inc.index()
        run.spark.catalog.clearCache()
        with run.span("query.fresh"):
            t0 = time.perf_counter()
            got = QueryEngine(idx).bm25(
                f"plant{b}x", k=2 * INGEST_PLANTED).collect()
            fq = time.perf_counter() - t0
        run.spark.catalog.clearCache()
        run.check({r["name"] for r in got} == planted,
                  f"batch {b}: probe returned {sorted(r['name'] for r in got)}"
                  f", want {sorted(planted)}")
        resent.update(resend_ids)
        return dt, fq

    def compaction():
        with run.span("incremental.compact_minor") as sp:
            t0 = time.perf_counter()
            inc.compact_minor()
            dt = time.perf_counter() - t0
        if sp:
            run.layer.setdefault("incremental.compact_minor_jobs", sp["jobs"])
        return dt

    def cycle():
        """One micro-batch, then a minor compaction."""
        dt, fq = batch()
        commit.append(dt)
        fresh.append(fq)
        compact.append(compaction())

    batch()  # warm-up of each timed operation
    compaction()
    run.setup_done()
    run.timed_loop(cycle, min_iters=1, docs_per_op=INGEST_BATCH_DOCS)
    docs_per_s = (len(commit) * INGEST_BATCH_DOCS) / (sum(commit)
                                                      + sum(compact))
    run.report(docs_per_s=docs_per_s, p50_ms=1e3 * statistics.median(commit))
    run.detail(docs_per_s=(docs_per_s, "1/s"),
               commit_p50_ms=(1e3 * statistics.median(commit), "ms"),
               fresh_query_p50_ms=(1e3 * statistics.median(fresh), "ms"))
    if run.trace:
        run.layer.update(probes.codec_speed(gen.gap_arrays(200, run.seed)))
        run.layer["incremental.append_ms"] = 1e3 * statistics.median(
            run.tracer.durations("incremental.append"))
        run.layer["incremental.compact_minor_s"] = statistics.median(
            run.tracer.durations("incremental.compact_minor"))
        _query_probes(run, lambda: _engine(run, inc.index()), stream)
        run.spark.catalog.clearCache()
    run.layer.update(_index_io(index_dir))

    # check: every re-sent path is live exactly once
    many = {f"d{i}": f"doc{i}z" for i in sorted(resent)}
    hits: dict = {}
    qe = _engine(run, inc.index())
    for r in qe.bm25_many(many, k=5).collect():
        hits[r["qid"]] = hits.get(r["qid"], 0) + 1
    bad = [q for q in many if hits.get(q) != 1]
    run.check(not bad, f"superseded paths not live exactly once: {bad[:5]}")


# -- curate -------------------------------------------------------------------

def curate(run) -> None:
    sample = pq.read_table(CURATE_SAMPLE).to_pydict()
    rows = gen.plant_duplicates(
        list(zip(*(sample[c] for c in _TESTDATA_COLS))), run.seed)
    data_dir = os.path.join(run.work, "testdata")
    os.makedirs(data_dir)
    _write_parquet(os.path.join(data_dir, "documents.parquet"), rows,
                   _TESTDATA_COLS)
    with run.span("corpus.load"):
        t0 = time.perf_counter()
        docs = load_testdata_documents(run.spark, data_dir).cache()
        n = docs.count()
        run.layer["corpus.load_s"] = time.perf_counter() - t0
    ids = dict(id_col="path", text_col="content")
    last: dict = {}  # the last pass's dropped ids

    def one():
        """Report -> near-dup clusters -> drop non-canonical members ->
        cut the duplicated spans out of what is left."""
        with run.span("textstats.curation_report") as sp:
            reasons = (textstats.curation_report(docs, **ids)
                       .groupBy("reason").count().collect())
        if sp:
            run.keep_counts("textstats.curation_report_", sp)
        with run.span("dedup.duplicate_clusters") as sp:
            drop = [r["id"] for r in dedup.duplicate_clusters(docs, **ids)
                    .filter(F.col("id") != F.col("cluster_id"))
                    .select("id").collect()]
        if sp:
            run.keep_counts("dedup.duplicate_clusters_", sp)
        last["drop"] = drop
        kept = docs.join(F.broadcast(run.spark.createDataFrame(
            [(d,) for d in drop], "path string")), "path", "left_anti")
        with run.span("dedup.cut_spans") as sp:
            cut = (dedup.cut_duplicated_spans(kept, **ids)
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum("n_removed_tokens").alias("removed"))
                   .collect()[0])
        if sp:
            run.keep_counts("dedup.cut_spans_", sp)
        run.check(sum(r["count"] for r in reasons) == n
                  and cut["n"] == n - len(drop),
                  f"curation pass lost docs: {cut['n']} + {len(drop)} != {n}")

    one()  # warm-up
    run.setup_done()
    times = run.timed_loop(one, min_iters=1, docs_per_op=n)
    med = statistics.median(times)
    run.report(docs_per_s=n / med, p50_ms=1e3 * med)
    run.detail(docs_per_s=(n / med, "1/s"))

    run.check(bool(last["drop"]), "the pass found no near-duplicates")
    if not run.trace:
        return
    # traced runs only (~10 s): the LSH pair set against the exact one
    exact = dedup.ngram_jaccard_pairs(docs, **ids).select("id_a", "id_b")
    exact = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    for name in ("textstats.curation_report", "dedup.cut_spans"):
        run.layer[f"{name}_s"] = statistics.median(run.tracer.durations(name))
    run.layer["dedup.jobs"] = (run.layer["dedup.duplicate_clusters_jobs"]
                               + run.layer["dedup.cut_spans_jobs"])
    with run.span("dedup.minhash_signatures"):
        t0 = time.perf_counter()
        dedup.minhash_signatures(docs, **ids, num_hashes=64, n=3).count()
        run.layer["dedup.minhash_signatures_s"] = time.perf_counter() - t0
    with run.span("dedup.near_duplicates"):
        t0 = time.perf_counter()
        pairs = dedup.near_duplicates(docs, **ids).cache()
        lsh = {(r["id_a"], r["id_b"]) for r in
               pairs.select("id_a", "id_b").collect()}
        run.layer["dedup.near_duplicates_s"] = time.perf_counter() - t0
    run.layer["dedup.pairs"] = len(lsh)
    with run.span("dedup.connected_components"):
        t0 = time.perf_counter()
        dedup.connected_components(pairs).count()
        run.layer["dedup.connected_components_s"] = time.perf_counter() - t0
    pairs.unpersist()
    run.check(lsh <= exact,
              f"{len(lsh - exact)} LSH pairs are not exact near-duplicates")
