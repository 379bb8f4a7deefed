"""The workloads, one kind of user each.

Each part below sets up its inputs (``Run.setup``), warms up outside the
timed loop, drives the engine in a closed loop with one client, checks
every answer it timed, and returns a ``Part``: what it processed, how long
that took, and its latency samples. A workload is a list of parts run in
one session.

A traced run (``--trace 1``) does a fixed amount of the same work twice,
first with spans off and then on, and reports the difference as
``tracing_overhead_s``.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass

import gen
from model import FindModel, check_clustering, duplicate_spans, pairwise_f1
from pyspark.sql import functions as F

from blurrily_spark.sources.synth import TRANSCRIPTS_SCHEMA

LINKAGE_CONFIG = {"jaccard_threshold": 0.55, "min_matches": 3, "max_df": 64}
# A batch part warms up on 1/WARMUP_SHARE of its input. That compiles the
# same plans and starts the Python workers, in about half the time of a
# full-size run, which the run's time budget cannot afford twice over.
WARMUP_SHARE = 10
# A churn FIND still gets faster for several cycles after the first one
# (2.3-3.5 s, then 1.7-2.7 s, 1.5-2.0 s, ... on 4 cores), so the run warms
# up for this many cycles before it times any.
WARMUP_CYCLES = 5


@dataclass
class Part:
    items: int                 # input records processed in the timed loop
    busy_s: float              # time the timed operations took
    latencies: list[float]     # per-operation samples, s


def _write_parquet(run, pdf, name: str, schema=None) -> str:
    path = run.path(name)
    run.spark.createDataFrame(pdf, schema=schema).repartition(run.nproc).write.parquet(path)
    return path


def _p50_ms(values: list[float]) -> float:
    return statistics.median(values) * 1000.0


def _tail_ms(run, name: str, values: list[float]) -> None:
    """Report the highest percentile with at least ten samples beyond it,
    labelled with that percentile; the maximum when there are ten samples
    or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        value, label = xs[-1], f"max of {n}"
    else:
        k = n - 10   # the k-th smallest sample has n - k beyond it
        value, label = xs[k - 1], f"p{100 * k // n} of {n}"
    run.say(f"{name} [{label}]", value * 1000.0, "ms")


# ---------------------------------------------------------------- linkage


def _linkage_stages(run, tx, workdir: str) -> dict:
    """The pipeline's stages called one by one through their public
    functions, each under its own span and job group. Returns per-stage
    row counts, the entity assignment and the data-dependent choices."""
    from pyspark.sql import Observation

    from blurrily_spark.functions.tokenizer import add_trigrams
    from blurrily_spark.operators import cluster, pairs, scoring
    from blurrily_spark.plans import pipeline

    tr = run.tracer
    rows = {}

    def write(stage: str, layer: str, df):
        obs = Observation(f"pb_{stage}")
        with tr.span(layer, f"write.{stage}") as s:
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(
                os.path.join(workdir, stage)
            )
            rows[stage] = s.rows = obs.get["n"]
        return run.spark.read.parquet(os.path.join(workdir, stage))

    with tr.span("tokenizer", "pipeline.build_turns", "construct"):
        turns_df = pipeline.build_turns(tx)
    turns = write("turns", "tokenizer", turns_df)
    with tr.span("index", "pipeline.turns_to_postings", "construct"):
        postings_df = pipeline.turns_to_postings(turns)
    postings = write("postings", "index", postings_df)

    cand_obs = Observation("pb_candidates")
    with tr.span("pairs", "pairs.candidate_pairs", "construct"):
        cand = pairs.candidate_pairs(
            postings, min_matches=1, max_df=LINKAGE_CONFIG["max_df"], keys_only=True
        ).observe(cand_obs, F.count(F.lit(1)).alias("n"))
    with tr.span("pairs", "rescore_records", "construct"):
        recs = add_trigrams(
            turns.select("ref", "norm", "weight"), "norm", "trigrams"
        ).localCheckpoint()
    with tr.span("pairs", "pairs.rescore_pairs_exact", "construct"):
        exact = pairs.rescore_pairs_exact(cand, recs).where(
            F.col("matches") >= LINKAGE_CONFIG["min_matches"]
        )
    pair_df = write("pairs", "pairs", exact)

    with tr.span("scoring", "scoring.score_pairs", "construct"):
        scores_df = scoring.score_pairs(
            pair_df.where(F.col("jaccard") >= LINKAGE_CONFIG["jaccard_threshold"]),
            turns.select("ref", "norm"),
        )
    scores = write("scores", "scoring", scores_df)
    with tr.span("scoring", "scoring.match_edges", "construct"):
        edges_df = scoring.match_edges(scores)
    edges = write("edges", "scoring", edges_df)

    cc = {}
    with tr.span("cluster", "cluster.assign_entities", "construct"):
        entities_df = (
            cluster.assign_entities(turns.select("ref"), edges, stats=cc)
            .join(turns.select("ref", "conv_id", "turn_idx"), "ref")
            .select("ref", "conv_id", "turn_idx", "entity_id")
        )
    entities = write("entities", "cluster", entities_df)
    got = entities.select("ref", "entity_id").collect()
    return {
        "rows": rows,
        "entities": {r["ref"]: r["entity_id"] for r in got},
        "candidates": cand_obs.get["n"],
        "cc_driver_path": bool(cc.get("driver_path")),
    }


def linkage(run) -> Part:
    """Batch record linkage: ``LinkagePipeline.run`` over 40k seeded turns,
    a fresh workdir each repetition."""
    from blurrily_spark.plans.pipeline import LinkagePipeline

    pdf, truth_df = gen.transcripts(run.seed)
    truth = {(c, t): e for c, t, e in truth_df.itertuples(index=False, name=None)}

    def build(i):
        return _write_parquet(run, pdf, f"transcripts-{i}", TRANSCRIPTS_SCHEMA)

    tx = run.spark.read.parquet(run.setup(build))
    outputs = []   # (wall, entity rows, manifest) per timed run

    def op(_i=0, src=tx, record=True):
        wd = tempfile.mkdtemp(dir=run.workdir)
        t0 = time.perf_counter()
        with run.tracer.span("pipeline", "LinkagePipeline.run"):
            LinkagePipeline(run.spark, wd, **LINKAGE_CONFIG).run(src).count()
        dt = time.perf_counter() - t0
        rows = run.spark.read.parquet(os.path.join(wd, "entities")).collect()
        with open(os.path.join(wd, "_manifest.json")) as fh:
            manifest = json.load(fh)
        shutil.rmtree(wd)
        if record:
            outputs.append((dt, rows, manifest))
        return dt

    t0 = time.perf_counter()
    small = pdf.iloc[: len(pdf) // WARMUP_SHARE]
    op(src=run.spark.read.parquet(_write_parquet(run, small, "transcripts-warmup", TRANSCRIPTS_SCHEMA)), record=False)
    run.add_setup("warmup_s", time.perf_counter() - t0)

    if run.args.trace:
        op(record=False)   # both halves below run warm
        # first half: the real pipeline under one span; second half: its
        # stages one by one, each under its own span
        run.tracer.enabled = True
        dt_plain = op()
        _, rows, manifest = outputs[-1]
        wd = tempfile.mkdtemp(dir=run.workdir)
        t0 = time.perf_counter()
        staged = _linkage_stages(run, tx, wd)
        dt_staged = time.perf_counter() - t0
        run.tracer.enabled = False
        shutil.rmtree(wd)
        stages = manifest["stages"]
        for stage, n in staged["rows"].items():
            run.check(
                stages[stage]["rows"] == n,
                f"traced stage {stage}: {n} rows, pipeline manifest {stages[stage]['rows']}",
            )
        plain = {r["ref"]: r["entity_id"] for r in rows}
        run.check(staged["entities"] == plain, "traced entity assignment differs from the pipeline's")
        salting = stages.get("pairs_salting") or {}
        run.tracer.notes["linkage"] = {
            "pairs_salting": salting,
            "cc_driver_path": staged["cc_driver_path"],
            "stage_rows": {s: v["rows"] for s, v in stages.items() if "rows" in v},
            "stage_seconds": {s: v["seconds"] for s, v in stages.items() if "seconds" in v},
        }
        stage_s = sum(v["seconds"] for v in stages.values() if "seconds" in v)
        run.metrics["pairs.keep_ratio"] = staged["rows"]["edges"] / max(staged["candidates"], 1)
        run.metrics["pipeline.overhead_s"] = dt_plain - stage_s
        run.metrics["pipeline.salting_active"] = float(bool(salting.get("active")))
        run.note_driver_path(staged["cc_driver_path"])
        run.add_metric("tracing_overhead_s", dt_staged - dt_plain)
    else:
        run.timed_loop(op)

    first = None
    n_turns = len(pdf)
    for _, rows, _ in outputs:
        labels = [(r["ref"], r["entity_id"]) for r in rows]
        err = check_clustering(labels)
        run.check(err is None and len(labels) == n_turns, f"linkage output: {err or len(labels)} rows")
        assignment = {(r["conv_id"], r["turn_idx"]): r["entity_id"] for r in rows}
        if first is None:
            first = assignment
        run.check(assignment == first, "linkage output differs between repetitions")
    walls = [o[0] for o in outputs]
    run.say("linkage_turns_per_s", n_turns * len(walls) / sum(walls), "1/s")
    run.say("linkage_pairwise_f1", pairwise_f1(first, truth), "ratio")
    run.say("linkage_runs", len(walls), "count")
    return Part(n_turns * len(walls), sum(walls), walls)


# ------------------------------------------------------------- find_serve


def find_serve(run) -> Part:
    """Read-path serving: 8-needle find/find_idf requests (3:1) against a
    bucketed postings index of 40k turns."""
    from blurrily_spark.operators import index

    # the package re-exports the function find, which hides the module
    find_mod = importlib.import_module("blurrily_spark.operators.find")

    tr = run.tracer
    turns_pdf = gen.turns_table(run.seed)
    if run.args.trace:
        tr.wrap(index, "build_postings", "index")
        tr.wrap(find_mod, "normalize", "tokenizer")
        tr.wrap(find_mod, "add_trigrams", "tokenizer")
        tr.enabled = True   # the index build is this workload's index work

    def build(i):
        turns = run.spark.read.parquet(_write_parquet(run, turns_pdf, f"turns-{i}"))
        postings = index.build_postings(turns, text_col="text", ref_col="ref", weight_col=None)
        with tr.span("index", "index.save_postings_bucketed"):
            index.save_postings_bucketed(
                postings, f"pb_postings_{i}", run.path(f"postings-{i}"), buckets=run.nproc
            )
        return f"pb_postings_{i}"

    postings = run.spark.table(run.setup(build))
    tr.enabled = False
    requests = gen.find_requests(run.seed, list(turns_pdf["text"]), 2000)
    answers = []   # (kind, needles, rows)
    walls = {"find": [], "find_idf": []}

    def op(i, record=True):
        kind, needles = requests[i]
        t0 = time.perf_counter()
        with tr.span("find", f"find.{kind}", "construct"):
            q = run.spark.createDataFrame(list(enumerate(needles)), "query_id long, needle string")
            if kind == "find":
                df = find_mod.find(postings, q, limit=10)
            else:
                df = find_mod.find_idf(postings, q, k=10)
        with tr.span("find", f"collect.{kind}") as s:
            rows = df.collect()
            if s is not None:
                s.rows = len(rows)
        dt = time.perf_counter() - t0
        if record:
            walls[kind].append(dt)
            answers.append((kind, needles, rows))
        return dt

    t0 = time.perf_counter()
    for kind in ("find", "find_idf"):
        op(next(i for i, r in enumerate(requests) if r[0] == kind), record=False)
    run.add_setup("warmup_s", time.perf_counter() - t0)

    if run.args.trace:
        n = 4
        plain = sum(op(i) for i in range(n))
        tr.enabled = True
        traced = sum(op(n + i) for i in range(n))
        tr.enabled = False
        run.add_metric("tracing_overhead_s", traced - plain)
    else:
        run.timed_loop(op)

    model = FindModel()
    for ref, text in turns_pdf.itertuples(index=False, name=None):
        model.put(ref, text)
    results = 0
    for kind, needles, rows in answers:
        by_query = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            if kind == "find":
                got = (r["ref"], r["matches"], r["weight"])
            else:
                got = (r["ref"], r["matches"], r["idf_score"], r["weight"])
            by_query.setdefault(r["query_id"], []).append(got)
        for qid, needle in enumerate(needles):
            want = model.find(needle) if kind == "find" else model.find_idf(needle)
            got = by_query.get(qid, [])
            results += len(got)
            run.check(got == want, f"{kind}({needle!r}): got {got[:3]}, want {want[:3]}")
    needles = sum(len(a[1]) for a in answers)
    busy = sum(walls["find"]) + sum(walls["find_idf"])
    run.say("find_p50_ms", _p50_ms(walls["find"]), "ms")
    _tail_ms(run, "find_tail_ms", walls["find"])
    if walls["find_idf"]:
        run.say("find_idf_p50_ms", _p50_ms(walls["find_idf"]), "ms")
    run.say("find_needles_per_s", needles / busy, "1/s")
    run.say("find_requests", len(answers), "count")
    run.metrics["find.results_per_needle"] = results / needles
    return Part(needles, busy, walls["find"])


# ------------------------------------------------------------ index_churn


def index_churn(run) -> Part:
    """Writes beside reads over the wire protocol: PUT 20, DELETE 1-2,
    FIND 1 per cycle through ``BlurrilyServer`` on localhost."""
    from blurrily_spark import api, server
    from blurrily_spark.operators import index

    tr = run.tracer
    initial, cycles = gen.churn_inputs(run.seed, 400)
    if run.args.trace:
        for name in ("put", "delete", "find", "stats", "save"):
            tr.wrap(api.Map, name, "api", "exec")
        tr.wrap(api, "build_postings", "index")
        tr.wrap(api, "find_one", "find")
        tr.wrap(index, "with_normalized", "tokenizer")

    def build(i):
        m = api.Map(run.spark)
        for ref, text in initial:
            m.put(text, ref)
        m.save(os.path.join(run.path(f"db-{i}"), "words.trigrams"))
        m.close()
        return run.path(f"db-{i}")

    directory = run.setup(build)
    srv = server.BlurrilyServer(run.spark, host="localhost", port=0, directory=directory)
    srv.start()
    client = server.BlurrilyClient("localhost", srv.port, "words")
    log = []   # (command, latency or None when untimed, response)

    def send(cmd, record=True):
        t0 = time.perf_counter()
        if cmd[0] == "PUT":
            resp = client.put(cmd[1], cmd[2])
        elif cmd[0] == "DELETE":
            resp = client.delete(cmd[1])
        else:
            resp = client.find(cmd[1])
        dt = time.perf_counter() - t0
        log.append((cmd, dt if record else None, resp))
        return dt

    def cycle(i, record=True):
        return sum(send(cmd, record) for cmd in cycles[i])

    try:
        t0 = time.perf_counter()
        for i in range(WARMUP_CYCLES):
            cycle(i, record=False)
        run.add_setup("warmup_s", time.perf_counter() - t0)

        loop_start = time.perf_counter()
        if run.args.trace:
            n = 2
            w = WARMUP_CYCLES
            plain = sum(cycle(i) for i in range(w, w + n))
            tr.enabled = True
            traced, flush = 0.0, []
            for i in range(w + n, w + 2 * n):
                traced += cycle(i)
                # the same FIND again, with no writes pending: the
                # difference is what the cycle's writes cost the first FIND
                flush.append(log[-1][1] - send(cycles[i][-1], record=False))
            run.add_metric("tracing_overhead_s", traced - plain)
            run.metrics["api.flush_s"] = statistics.median(flush)
        else:
            run.timed_loop(lambda i: cycle(WARMUP_CYCLES + i))
        loop_s = time.perf_counter() - loop_start
    finally:
        client.close()
        t0 = time.perf_counter()
        with tr.span("server", "BlurrilyServer.stop"):
            srv.stop()
        save_s = time.perf_counter() - t0
        tr.enabled = False

    # replay the script against the model; every FIND answer must match
    model = FindModel()
    for ref, text in initial:
        model.put(ref, text)
    find_walls, commands, results, finds = [], 0, 0, 0
    for cmd, dt, resp in log:
        if cmd[0] == "PUT":
            model.put(cmd[2], cmd[1])
        elif cmd[0] == "DELETE":
            model.delete(cmd[1])
        else:
            want = [list(t) for t in model.find(cmd[1])]
            run.check(resp == want, f"churn FIND({cmd[1]!r}): got {resp[:3]}, want {want[:3]}")
            finds += 1
            results += len(resp)
            if dt is not None:
                find_walls.append(dt)
        commands += dt is not None

    # the snapshot stop() saved must hold exactly the model's state
    reloaded = api.Map.load(run.spark, os.path.join(directory, "words.trigrams"))
    run.check(reloaded.stats() == model.stats(), f"reloaded stats {reloaded.stats()} != {model.stats()}")
    needle = log[-1][0][1]
    got = [tuple(t) for t in reloaded.find(needle)]
    run.check(got == model.find(needle), f"reloaded FIND({needle!r}) differs from the model")
    reloaded.close()

    run.say("churn_find_p50_ms", _p50_ms(find_walls), "ms")
    _tail_ms(run, "churn_find_tail_ms", find_walls)
    run.say("churn_ops_per_s", commands / loop_s, "1/s")
    run.say("churn_save_s", save_s, "s")
    run.say("churn_cycles", len(find_walls), "count")
    run.metrics["find.results_per_needle"] = results / finds
    run.metrics["server.save_s"] = save_s
    return Part(commands, loop_s, find_walls)


# ----------------------------------------------------------- corpus_dedup


def corpus_dedup(run) -> Part:
    """Corpus cleaning: ``near_dedup`` then ``duplicate_spans`` (fast hash)
    over one document per conversation, 8k documents in clusters of 4."""
    from blurrily_spark.operators import cluster, dedup

    tr = run.tracer
    docs_pdf, truth = gen.conversation_docs(run.seed)
    if run.args.trace:
        tr.wrap(dedup, "with_normalized", "tokenizer")
        # near_dedup imports connected_components at call time, so the
        # module attribute is where to record which path CC took
        cc_fn = cluster.connected_components

        def connected_components(edges, **kw):
            stats = kw.setdefault("stats", {})
            out = cc_fn(edges, **kw)
            if tr.enabled:
                driver = bool(stats.get("driver_path"))
                tr.notes.setdefault("corpus_dedup", {}).setdefault("cc_driver_path", []).append(driver)
                run.note_driver_path(driver)
            return out

        tr.patch(cluster, "connected_components", connected_components)
        tr.wrap(cluster, "connected_components", "cluster")

    def build(i):
        return _write_parquet(run, docs_pdf, f"docs-{i}")

    path = run.setup(build)
    outputs = []   # (wall, near_dedup rows, duplicate_spans rows)

    def op(_i=0, src=path, record=True):
        docs = run.spark.read.parquet(src)
        t0 = time.perf_counter()
        with tr.span("dedup", "dedup.near_dedup", "construct"):
            nd = dedup.near_dedup(docs, hash_fn="fast")
        with tr.span("dedup", "collect.near_dedup") as s:
            nd_rows = nd.collect()
            if s is not None:
                s.rows = len(nd_rows)
        with tr.span("dedup", "dedup.duplicate_spans", "construct"):
            ds = dedup.duplicate_spans(docs, hash_fn="fast")
        with tr.span("dedup", "collect.duplicate_spans") as s:
            ds_rows = ds.collect()
            if s is not None:
                s.rows = len(ds_rows)
        dt = time.perf_counter() - t0
        if record:
            outputs.append((dt, nd_rows, ds_rows))
        return dt

    t0 = time.perf_counter()
    op(src=_write_parquet(run, docs_pdf.iloc[: len(docs_pdf) // WARMUP_SHARE], "docs-warmup"), record=False)
    run.add_setup("warmup_s", time.perf_counter() - t0)

    if run.args.trace:
        op(record=False)   # both halves below run warm
        plain = op()
        tr.enabled = True
        run.add_metric("tracing_overhead_s", op() - plain)
        tr.enabled = False
    else:
        run.timed_loop(op)

    spans_want = duplicate_spans(list(docs_pdf.itertuples(index=False, name=None)))
    first = None
    for _, nd_rows, ds_rows in outputs:
        rows = [(r["id"], r["keep_id"]) for r in nd_rows]
        err = check_clustering(rows)
        run.check(err is None and len(rows) == len(docs_pdf), f"near_dedup output: {err or len(rows)} rows")
        run.check(
            all(r["is_dup"] == int(r["keep_id"] != r["id"]) for r in nd_rows),
            "near_dedup is_dup disagrees with keep_id",
        )
        assignment = dict(rows)
        if first is None:
            first = assignment
        run.check(assignment == first, "near_dedup output differs between repetitions")
        got = {r["id"]: (r["n_windows"], r["n_dup_windows"]) for r in ds_rows}
        run.check(got == spans_want, "duplicate_spans counts differ from the model")
        run.check(
            all(abs(r["dup_fraction"] - r["n_dup_windows"] / r["n_windows"]) < 1e-6 for r in ds_rows),
            "duplicate_spans dup_fraction disagrees with its counts",
        )
    walls = [o[0] for o in outputs]
    n_docs = len(docs_pdf)
    run.say("dedup_docs_per_s", n_docs * len(walls) / sum(walls), "1/s")
    run.say("dedup_pairwise_f1", pairwise_f1(first, truth), "ratio")
    run.say("dedup_runs", len(walls), "count")
    return Part(n_docs * len(walls), sum(walls), walls)


WORKLOADS = {
    "linkage": [linkage],
    "find_serve": [find_serve],
    "index_churn": [index_churn],
    "corpus_dedup": [corpus_dedup],
    # the batch user: clean the corpus, then link its turns
    "dedup_link": [corpus_dedup, linkage],
}
