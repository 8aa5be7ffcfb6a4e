"""Child processes of the benchmark.

    python3 benchsuite/phases.py spark  <workload> <seed> <work_dir> <trace>
    python3 benchsuite/phases.py replay <work_dir>

``spark`` runs every Spark phase of one workload (build, bulk queries,
streaming ingest) and exits, so its JVM is gone before any timed serving
starts.  ``replay`` (traced runs only) sends the served stream through an
in-process ``IndexServer`` whose public methods are wrapped in spans.
Each writes one JSON file into ``work_dir`` for ``run.py`` to read.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.getcwd())                      # the checkout root
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from session_start import exit_now, get_spark  # noqa: E402
from tracer import Tracer  # noqa: E402

BULK_WARM_REPS = 3
SINGLE_BUILDS = 5
TOKENIZER_SAMPLE_DOCS = 2000
_T0 = time.perf_counter()


def _log(msg: str) -> None:
    """Progress line with the phase clock, into the run's log.txt."""
    print(f"[phases {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _tree_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for d, _sub, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _doc_ids(rows: list[dict]):
    from horus_ner_spark.functions.xxhash import doc_ids_from_cols

    return doc_ids_from_cols(
        [r["repo"] for r in rows], [r["path"] for r in rows],
        [r["commit"] for r in rows],
    )


def _start_spark(work: str, cores: int):
    from horus_ner_spark import session

    spark, start_s = get_spark(work, cores)
    # ship the package from inside the work dir (the default zip lands in
    # the system temp dir), then mark the session as shipped
    spark.sparkContext.addPyFile(
        session.build_package_zip(os.path.join(work, "horus_ner_spark.zip"))
    )
    setattr(spark, session._PKG_MARKER, True)
    # first job, outside every timing: starts the executor threads and one
    # Python worker per core, which the first pandas UDF of a timed phase
    # would otherwise start
    spark.range(0, cores, 1, cores).mapInPandas(
        lambda frames: frames, "id long").collect()
    return spark, start_s


def _build_layers(paths) -> dict:
    from horus_ner_spark.index.manifest import Manifest

    man = Manifest(paths.root)
    out = {}
    for st in ("docs", "tf", "stats", "term_stats", "postings"):
        out[f"index.build.stage.{st}_s"] = (
            man.read_stage(st)["totals"]["wall_s"])
    walls = sum(out.values())
    out["functions.tokenizer.tf_share"] = (
        out["index.build.stage.tf_s"] / walls if walls else 0.0
    )
    out["index.build.postings"] = (
        man.read_stage("postings")["totals"]["postings_emitted"]
    )
    for name, ref in (("postings", paths.postings),
                      ("term_stats", paths.term_stats),
                      ("docs", paths.docs), ("doclens", paths.doclens)):
        out[f"index.build.table_bytes.{name}"] = _tree_bytes(ref)
    return out


def _bulk(run_batch, batch: list[dict]) -> tuple[dict, dict, list]:
    """-> (end-to-end metrics, per-layer metrics, [query, rows] pairs)."""
    first_s, _ = _timed(lambda: run_batch(batch).collect())
    warm, rows = [], None
    for _ in range(BULK_WARM_REPS):
        s, rows = _timed(lambda: run_batch(batch).collect())
        warm.append(s)
    med = statistics.median(warm)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append(
            [int(r["rank"]), int(r["doc_id"]), float(r["score"])]
        )
    return (
        {"bulk.queries_per_s": len(batch) / med},
        {"index.query.bm25_wand.first_s": first_s,
         "index.query.bm25_wand.warm_s": med},
        [[q, by_q.get(q["query_id"], [])] for q in batch],
    )


def _warm_median(fn, reps: int) -> float:
    fn()
    return statistics.median(_timed(fn)[0] for _ in range(reps))


def _bulk_extras(spark, paths, seed: int) -> dict:
    """One call each of the other bulk entry points (traced runs only),
    made after the ``bm25_wand`` calls have warmed the session."""
    from horus_ner_spark.index import query

    a, b, c = inputs.HEAD[3], inputs.HEAD[7], inputs.HEAD[11]
    phr = [dict(q, mode="PHRASE") for q in inputs.bulk_batch(seed + 1, 4)]
    ors = [{"query_id": 0, "query_text": " ".join(inputs.HEAD[:3]),
            "lang": "python", "k": 10}]
    return {
        "index.query.bm25_bool.warm_s": _timed(
            lambda: query.bm25_bool(
                spark, paths, f"({a} OR {b}) AND {c}").collect())[0],
        "index.query.bm25_distributed.phrase_s": _timed(
            lambda: query.bm25_distributed(spark, paths, phr).collect())[0],
        "index.query.bm25_distributed.or_hot_s": _timed(
            lambda: query.bm25_distributed(
                spark, paths, ors, or_plan="fanout").collect())[0],
    }


def _stage_file(landing: str, idx: int, rows: list[dict]) -> None:
    import pandas as pd

    tmp = os.path.join(landing, f".b{idx:05d}.tmp")
    pd.DataFrame(rows).to_parquet(tmp)
    os.replace(tmp, os.path.join(landing, f"b{idx:05d}.parquet"))


def _stream(spark, landing: str, root: str, cp: str) -> tuple[float, list]:
    from horus_ner_spark.streaming import incremental

    t0 = time.perf_counter()
    q = incremental.incremental_index_stream(
        spark, landing, root, cp, fanout=4, max_files_per_trigger=1,
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    batch_s = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in q.recentProgress if p.get("numInputRows", 0) > 0
    ]
    return wall, batch_s


def _ingest_layers(root: str, landed: int,
                   deleted_ids) -> tuple[dict, list[str], int]:
    """-> (per-layer metrics, live unit dirs, bytes of the live units)."""
    import numpy as np
    import pyarrow.parquet as pq

    from horus_ner_spark.index.build import IndexPaths
    from horus_ner_spark.streaming.incremental import active_units

    live = [p for _lvl, p in active_units(root)]
    kept = sum(
        pq.read_metadata(os.path.join(dp, f)).num_rows
        for d in os.listdir(root) if d.startswith("seg_")
        for dp, _s, files in os.walk(os.path.join(root, d, "corpus.parquet"))
        for f in files if f.endswith(".parquet")
    )
    units = [os.path.join(root, d, "ix") for d in os.listdir(root)
             if d.startswith("seg_")] + _merged_dirs(root)
    live_ids = np.concatenate([
        pq.read_table(IndexPaths(p).docs, columns=["doc_id"])["doc_id"]
        .to_numpy() for p in live
    ])
    live_bytes = _tree_bytes(*live)
    return {
        "streaming.incremental.live_units": len(live),
        "streaming.incremental.compactions": sum(
            os.path.exists(os.path.join(t, "inputs.json"))
            for t in _merged_dirs(root)
        ),
        "streaming.incremental.write_amp": _tree_bytes(*units) / live_bytes,
        "streaming.bloom.dedup_dropped": landed - kept,
        "index.tombstones.purged": int(
            len(deleted_ids) - np.isin(deleted_ids, live_ids).sum()
        ),
    }, live, live_bytes


def _oracle_top10(rows: list[dict], queries: list[str]) -> list:
    from horus_ner_spark.oracle import OracleIndex

    ids = _doc_ids(rows)
    ix = OracleIndex.build(
        (int(d), r["lang"], r["content"]) for d, r in zip(ids, rows)
    )
    return [[q, [[d, s] for d, s in ix.search(q, "python", 10)]]
            for q in queries]


def _tokenizer_mb_per_s(seed: int) -> float:
    import pyarrow as pa

    from horus_ner_spark.corpus import gen_doc
    from horus_ner_spark.functions.tokenizer import tokenize_arrow_batch

    docs = [gen_doc(i, seed + 1, 20) for i in range(TOKENIZER_SAMPLE_DOCS)]
    contents = pa.array([d["content"] for d in docs])
    langs = pa.array([d["lang"] for d in docs])
    mb = sum(len(d["content"].encode()) for d in docs) / 1e6
    return mb / _warm_median(lambda: tokenize_arrow_batch(contents, langs), 3)


def _trace_ingest(tracer: Tracer) -> None:
    from horus_ner_spark.index import merge, smallseg
    from horus_ner_spark.streaming import incremental

    tracer.wrap(incremental, "compact_tiers", "streaming.incremental.compact")
    tracer.wrap(merge, "merge_indexes", "index.merge")
    tracer.wrap(smallseg, "build_index_small", "index.smallseg.build")


def _ingest_trace_layers(tracer: Tracer, merged_dirs: list[str]) -> dict:
    bsz = tracer.durations("index.smallseg.build")
    return {
        "streaming.incremental.compact_s": tracer.total(
            "streaming.incremental.compact"),
        "index.merge.s": tracer.total("index.merge"),
        "index.merge.bytes_out": _tree_bytes(*merged_dirs),
        "index.smallseg.build_p50_s": statistics.median(bsz) if bsz else 0.0,
    }


def _merged_dirs(root: str) -> list[str]:
    tdir = os.path.join(root, "tiers")
    return ([os.path.join(tdir, d) for d in os.listdir(tdir)]
            if os.path.isdir(tdir) else [])


def search_mix(spark, work: str, seed: int, cores: int, tracer) -> dict:
    from horus_ner_spark import corpus as corpus_mod
    from horus_ner_spark.index import fuzzy, query
    from horus_ner_spark.index.build import build_index

    n = inputs.SEARCH_DOCS
    sf = n / 1_000_000
    if corpus_mod.n_docs_for_sf(sf) != n:
        raise ValueError(f"corpus size {n} is not reachable by sf={sf}")
    base = os.path.join(work, "sm")
    corpus = corpus_mod.write_corpus(spark, base, sf, seed=seed,
                                     n_partitions=cores)
    ix = os.path.join(base, "ix")
    _log("corpus written")
    build_s, paths = _timed(lambda: build_index(spark, corpus, ix))
    _log("built")
    fuzzy.build_fuzzy_sidecar(spark, paths)
    e2e = {
        "build.docs_per_s": n / build_s,
        "index.bytes_per_corpus_byte": _tree_bytes(ix) / _tree_bytes(corpus),
    }
    layers = _build_layers(paths)

    _log("fuzzy sidecar built")
    bulk_e2e, bulk_layers, wand = _bulk(
        lambda b: query.bm25_wand(spark, paths, b), inputs.bulk_batch(seed))
    e2e.update(bulk_e2e)
    layers.update(bulk_layers)
    if tracer is not None:
        layers.update(_bulk_extras(spark, paths, seed))
        _trace_ingest(tracer)

    _log("bulk done")
    # a short stream of new commits beside the built index
    root, landing = os.path.join(base, "stream"), os.path.join(base, "landing")
    os.makedirs(landing)
    files = inputs.ingest_files(seed, inputs.SEARCH_INGEST_FILES, n)
    for i, rows in enumerate(files):
        _stage_file(landing, i, rows)
    wall, batch_s = _stream(spark, landing, root, os.path.join(base, "cp"))
    landed = sum(len(f) for f in files)
    e2e["ingest.docs_per_s"] = landed / wall
    e2e["ingest.batch_p50_s"] = statistics.median(batch_s)
    layers.update(_ingest_layers(root, landed, [])[0])
    if tracer is not None:
        layers.update(_ingest_trace_layers(tracer, _merged_dirs(root)))
        layers["functions.tokenizer.mb_per_s"] = _tokenizer_mb_per_s(seed)

    _log("ingest done")
    rows = [corpus_mod.gen_doc(i, seed, inputs.n_repos(n)) for i in range(n)]
    return {
        "e2e": e2e, "layers": layers,
        "index_dirs": ix, "corpus": corpus,
        "repos": sorted({r["repo"] for r in rows}),
        "checks": {
            "oracle": _oracle_top10(rows, inputs.oracle_sample(seed)),
            "wand": wand,
        },
    }


def ingest_serve(spark, work: str, seed: int, cores: int, tracer) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from horus_ner_spark.index import query
    from horus_ner_spark.index.build import build_index
    from horus_ner_spark.index.serve import IndexServer
    from horus_ner_spark.index.smallseg import SMALL_BUILD_MAX_BYTES
    from horus_ner_spark.index.tombstones import delete_docs

    base = os.path.join(work, "is")
    root, landing = os.path.join(base, "root"), os.path.join(base, "landing")
    cp = os.path.join(base, "cp")
    os.makedirs(landing)
    n1, n2 = inputs.INGEST_RUN1_FILES, inputs.INGEST_RUN2_FILES
    files = inputs.ingest_files(seed, n1 + n2, 0)
    if tracer is not None:
        _trace_ingest(tracer)

    for i in range(n1):
        _stage_file(landing, i, files[i])
    wall1, batch1 = _stream(spark, landing, root, cp)
    _log("stream run 1 done")
    # deletes hit the two newest level-0 units, which the second run's
    # first compaction merges, so every delete is purged by the end
    per = inputs.DELETED // 2
    deleted = files[n1 - 2][:per] + files[n1 - 1][:per]
    deleted_ids = _doc_ids(deleted)
    delete_docs(root, deleted_ids)
    per = inputs.REDELIVERED // 4
    redelivered = [d for f in files[:4] for d in f[-per:]]
    for i in range(n1, n1 + n2):
        _stage_file(landing, i,
                    files[i] + (redelivered if i == n1 else []))
    wall2, batch2 = _stream(spark, landing, root, cp)
    _log("stream run 2 done")
    landed = sum(len(f) for f in files) + len(redelivered)

    ing, live, live_bytes = _ingest_layers(root, landed, deleted_ids)
    e2e = {
        "ingest.docs_per_s": landed / (wall1 + wall2),
        "ingest.batch_p50_s": statistics.median(batch1 + batch2),
        "index.bytes_per_corpus_byte": live_bytes / _tree_bytes(landing),
    }
    layers = dict(ing)
    if tracer is not None:
        layers.update(_ingest_trace_layers(tracer, _merged_dirs(root)))
        layers["functions.tokenizer.mb_per_s"] = _tokenizer_mb_per_s(seed)

    # single-shot build of the surviving documents: the build metric of
    # this workload and the reference the live tier set must equal
    dead = set(deleted_ids.tolist())
    rows = [r for f in files for r, d in zip(f, _doc_ids(f))
            if int(d) not in dead]
    single_corpus = os.path.join(base, "single", "corpus.parquet")
    os.makedirs(single_corpus)
    pq.write_table(pa.Table.from_pylist(rows),
                   os.path.join(single_corpus, "part-0.parquet"))
    # the small-segment build path, the one every micro-batch goes through;
    # one build takes about a second, so the median of five is kept
    walls = []
    for i in range(SINGLE_BUILDS):
        single_ix = os.path.join(base, "single", f"ix{i}")
        s, paths = _timed(lambda: build_index(
            spark, single_corpus, single_ix,
            small_max_bytes=SMALL_BUILD_MAX_BYTES))
        walls.append(s)
    _log("single-shot builds done")
    e2e["build.docs_per_s"] = len(rows) / statistics.median(walls)
    layers.update(_build_layers(paths))

    bulk_e2e, bulk_layers, _rows = _bulk(
        lambda b: query.bm25_wand(spark, paths, b), inputs.bulk_batch(seed))
    e2e.update(bulk_e2e)
    layers.update(bulk_layers)
    if tracer is not None:
        layers.update(_bulk_extras(spark, paths, seed))

    _log("bulk done")
    tiers, single = IndexServer(live), IndexServer(paths.root)
    mismatches = 0
    for q in inputs.parity_sample(seed):
        a = tiers.search(q["query_text"], "python", 10, q["mode"])
        b = single.search(q["query_text"], "python", 10, q["mode"])
        if not a.reset_index(drop=True).equals(b.reset_index(drop=True)):
            mismatches += 1
    return {
        "e2e": e2e, "layers": layers,
        "index_dirs": live, "corpus": single_corpus,
        "repos": sorted({r["repo"] for r in rows}),
        "checks": {
            "oracle": _oracle_top10(rows, inputs.oracle_sample(seed)),
            "parity_mismatches": mismatches,
            "parity_queries": len(inputs.parity_sample(seed)),
            "redelivered": len(redelivered),
            "dedup_dropped": ing["streaming.bloom.dedup_dropped"],
        },
    }


def spark_main(workload: str, seed: int, work: str, trace: bool) -> None:
    cores = os.cpu_count() or 1
    spark, start_s = _start_spark(work, cores)
    _log("session started")
    tracer = Tracer() if trace else None
    try:
        fn = search_mix if workload == "search-mix" else ingest_serve
        out = fn(spark, work, seed, cores, tracer)
    finally:
        spark.stop()
    _log("spark stopped")
    out["session_start_s"] = start_s
    if tracer is not None:
        tracer.restore()
        out["trace_cost_s"] = tracer.span_cost_s() * len(tracer.spans)
        tracer.dump(os.path.join(work, "spark_spans.json"))
    with open(os.path.join(work, "phase.json"), "w") as f:
        json.dump(out, f)
    exit_now()


def replay_main(work: str) -> None:
    """Send the served stream through one in-process IndexServer, the way
    the daemon's handler would, with spans around every public call."""
    from horus_ner_spark.index import qsyntax, query, serve

    with open(os.path.join(work, "phase.json")) as f:
        phase = json.load(f)
    with open(os.path.join(work, "stream.json")) as f:
        stream = json.load(f)
    tracer = Tracer()
    tracer.wrap(serve.IndexServer, "__init__", "index.serve.init")
    for m in ("search", "facets", "snippets"):
        tracer.wrap(serve.IndexServer, m, f"index.serve.{m}")
    tracer.wrap(qsyntax, "parse_query", "index.qsyntax.parse")
    decoded = [0]
    orig_decode = query._decode_term_blocks

    def counting_decode(b):
        out = orig_decode(b)
        decoded[0] += len(out[0])
        return out

    query._decode_term_blocks = counting_decode
    query.DECODE_STATS.update(blocks=0, postings=0)

    dirs = phase["index_dirs"]
    dirs = [dirs] if isinstance(dirs, str) else dirs
    term_df = _term_df(dirs)
    fetched = 0
    t0 = time.perf_counter()
    srv = serve.IndexServer(phase["index_dirs"])
    for _cls, kind, body in stream:
        tracer.tag = kind
        p = qsyntax.parse_query(body["q"])
        filters = dict(p.filters) or None
        res = srv.search(p.query_text, p.lang, body["k"], p.mode,
                         slop=p.slop, exclude_text=p.exclude,
                         filters=filters)
        if body.get("snippets"):
            srv.snippets(p.query_text, list(res["doc_id"]), phase["corpus"],
                         lang=p.lang)
        if body.get("facets"):
            srv.facets(p.query_text, p.lang, mode=p.mode,
                       by=tuple(body["facets"]), exclude_text=p.exclude,
                       filters=filters)
        fetched += _plain_postings(p, term_df)
    wall = time.perf_counter() - t0
    tracer.restore()
    query._decode_term_blocks = orig_decode

    total_decoded = decoded[0] + query.DECODE_STATS["postings"]
    n = len(stream)
    layers = {
        "index.serve.init_s": tracer.total("index.serve.init"),
        "index.qsyntax.parse_us": tracer.p50("index.qsyntax.parse") * 1e6,
        "index.serve.facets.p50_ms": tracer.p50("index.serve.facets") * 1e3,
        "index.serve.snippets.p50_ms":
            tracer.p50("index.serve.snippets") * 1e3,
        "index.query.decoded_postings_per_query": total_decoded / n,
        "index.query.decode_ratio":
            total_decoded / fetched if fetched else 0.0,
    }
    for kind in ("OR", "AND", "PHRASE", "NEAR", "BOOL", "FILTER", "PREFIX",
                 "FUZZY"):
        layers[f"index.serve.search.{kind}.p50_ms"] = (
            tracer.p50("index.serve.search", kind) * 1e3
        )
    cost = tracer.span_cost_s() * len(tracer.spans)
    tracer.dump(os.path.join(work, "replay_spans.json"))
    with open(os.path.join(work, "replay.json"), "w") as f:
        json.dump({"layers": layers, "wall_s": wall, "trace_cost_s": cost}, f)


def _plain_postings(p, term_df: dict) -> int:
    """Postings of the query's plain terms (df summed over segments): the
    work an exhaustive decode would do, the decode ratio's base."""
    from horus_ner_spark.functions.tokenizer import tokenize

    text = p.query_text.replace("(", " ").replace(")", " ")
    return sum(term_df.get(t, 0) for t in set(tokenize(text, p.lang))
               if t not in ("and", "or", "not"))


def _term_df(index_dirs: list[str]) -> dict[str, int]:
    import pyarrow.parquet as pq

    from horus_ner_spark.index.build import IndexPaths

    out: dict[str, int] = {}
    for d in index_dirs:
        tbl = pq.read_table(IndexPaths(d).term_stats, columns=["term", "df"])
        for t, df in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()):
            out[t] = out.get(t, 0) + int(df)
    return out


if __name__ == "__main__":
    if sys.argv[1] == "spark":
        spark_main(sys.argv[2], int(sys.argv[3]), sys.argv[4],
                   sys.argv[5] == "1")
    elif sys.argv[1] == "replay":
        replay_main(sys.argv[2])
    else:
        raise SystemExit(f"unknown phase {sys.argv[1]!r}")
