"""agent-turns: an agent loop that writes to the store on every turn.

Set-up: generate 5,000 documents from the seed, load them through
`mnemo_spark.io`, map them to memories (one per document, agents =
the 20 document sources, a third of them shared), bulk-ingest them
(remember_batch -> save -> load). Then one recall on the saved
snapshot: as the read path's first call it compiles its plans, so no
timed recall is cold. A traced run also runs a recall_batch whose
first text is that recall's and compares their ids; untraced runs
skip it, as it adds a cold call's ~6 s to every run.

An episode starts from the saved snapshot, inside `engine.serving()`,
and runs one turn (three in a traced run, so the per-turn series shows
how the store's partitions and recall latency grow) for seed-drawn
agents. Each turn: remember_batch of 8 seed-generated memories, then
materialized() ("remember"), then a hybrid recall(k=10) with a
seed-drawn 4-term text ("recall"). The last turn also runs forget of
2 of the turn's memories, then materialized() ("forget"), then
verify_integrity ("verify"). Episodes repeat until the time budget is
spent; every episode starts from the same snapshot, so turn i of any
episode sees the same store shape and a faster engine is not charged
for a longer history.

Checks: recall returns at most k rows, all owned by the principal
(the only rows visible to it: the store has no grants and no public
rows); single-recall ids equal the recall_batch ids for the same text
on the same store; verify reports zero breaks.

The store stays far below the 200k-row ANN routing threshold, so the
dense lane is the exact scan, and far below the 32 GiB serving-cache
budget, so nothing is evicted.
"""

from __future__ import annotations

import datetime as dt
import time

N_MEMORIES = 5000
TURN_ROWS = 8
TURNS = 1
TRACED_TURNS = 3
BATCH_TEXTS = 4
K = 10
T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
T_TURNS = T0 + dt.timedelta(days=30)  # after every ingested memory
ROW_SCHEMA = (
    "id string, agent_id string, content string, memory_type string, "
    "scope string, importance float, tags array<string>, created_at timestamp"
)


def run(ctx) -> None:
    import datagen
    from pyspark.sql import functions as F

    from mnemo_spark import io
    from mnemo_spark.engine import MnemoSparkEngine

    spark, rec, rng = ctx.spark, ctx.rec, ctx.rng
    data_dir = str(ctx.work / "docs")
    store = str(ctx.work / "store")
    vocab = datagen.VOCAB
    agents = [f"src{i}" for i in range(20)]

    def data_setup():
        t0 = time.perf_counter()
        datagen.generate(data_dir, ctx.seed, N_MEMORIES / 50_000, only=("documents",))
        t1 = time.perf_counter()
        docs = io.load_table(spark, data_dir, "documents")
        docs.count()
        return docs, t1 - t0, time.perf_counter() - t1

    # generate + load the documents; repeated, set-up counts the median
    docs, ctx.phases["datagen_s"], ctx.phases["io.table_warm_s"] = ctx.repeat_setup(
        "data", data_setup, 3)
    # the mapping of tools/engine_probe.py: one memory per document
    rows = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("id"),
        F.col("source").alias("agent_id"),
        F.col("text").alias("content"),
        F.lit("semantic").alias("memory_type"),
        F.when(F.col("doc_id") % 3 == 0, "shared").otherwise("private").alias("scope"),
        (F.pmod(F.col("doc_id"), 100) / 100.0).cast("float").alias("importance"),
        F.array(F.col("lang")).alias("tags"),
        (F.lit(T0).cast("timestamp") + F.make_interval(mins=F.col("doc_id").cast("int")))
        .alias("created_at"),
    )

    t_ingest = time.perf_counter()
    ctx.phase("txlog.save_s", lambda: MnemoSparkEngine(spark).remember_batch(rows).save(
        store, layout_files=8))
    ctx.phase("txlog.load_s", lambda: MnemoSparkEngine.load(spark, store).memories.count())
    ingest_s = time.perf_counter() - t_ingest

    def text():
        return " ".join(vocab[i] for i in rng.integers(0, len(vocab), 4))

    def new_rows(agent, tag, turn):
        n_words = rng.integers(10, 41, TURN_ROWS)
        base = T_TURNS + dt.timedelta(minutes=turn)
        data = [
            (f"{tag}r{j}", agent,
             " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words[j])),
             "episodic", "private", float(rng.random()), ["turn"],
             base + dt.timedelta(seconds=j))
            for j in range(TURN_ROWS)
        ]
        return spark.createDataFrame(data, ROW_SCHEMA)

    turns = TRACED_TURNS if ctx.tracer.enabled else TURNS
    series = {"store_partitions": [[] for _ in range(turns)],
              "recall_s": [[] for _ in range(turns)]}
    store_rows: list[int] = []  # traced: rows at the end of each episode

    def check_recall(hits, agent):
        rec.attempted += 1
        bad = [r["id"] for r in hits if r["agent_id"] != agent]
        if len(hits) > K or bad:
            rec.fail("recall", f"{len(hits)} rows, not visible to {agent}: {bad[:3]}")

    def ranked_ids(found):
        return [r["id"] for r in sorted(found, key=lambda r: r["rank"])]

    def warm_and_check():
        eng = MnemoSparkEngine.load(spark, store)
        agent = agents[int(rng.integers(0, len(agents)))]
        texts = [text() for _ in range(BATCH_TEXTS)]
        with eng.serving():
            t0 = time.perf_counter()
            hits = rec.op("recall", lambda: eng.recall(texts[0], agent, k=K), "collect",
                          timed=False)
            ctx.named["recall_cold_s"] = round(time.perf_counter() - t0, 4)
            if hits is not None:
                check_recall(hits, agent)
            if hits is None or not ctx.tracer.enabled:
                return
            qdf = spark.createDataFrame([(f"q{i}", t) for i, t in enumerate(texts)],
                                        "query_id string, query string")
            t0 = time.perf_counter()
            got = rec.op("recall_batch", lambda: eng.recall_batch(qdf, agent, k=K), "collect",
                         timed=False)
            ctx.named["recall_batch_cold_s"] = round(time.perf_counter() - t0, 4)
        if got is None:
            return
        rec.attempted += 1
        single = ranked_ids(hits)
        batched = ranked_ids(r for r in got if r["query_id"] == "q0")
        if single != batched:
            rec.fail("recall_batch", f"ids differ from recall: {single} vs {batched}")

    def episode(ep: int) -> None:
        eng = MnemoSparkEngine.load(spark, store)
        with eng.serving():
            for turn in range(turns):
                agent = agents[int(rng.integers(0, len(agents)))]
                tag = f"e{ep}t{turn}"
                batch = new_rows(agent, tag, turn)
                out = rec.op("remember", lambda: eng.remember_batch(batch),
                             action=MnemoSparkEngine.materialized)
                if out is None:
                    return
                eng = out
                q = text()
                hits = rec.op("recall", lambda: eng.recall(q, agent, k=K), "collect")
                if hits is not None:
                    series["recall_s"][turn].append(rec.samples["recall"][-1])
                    series["store_partitions"][turn].append(eng.memories.rdd.getNumPartitions())
                    check_recall(hits, agent)
            gone = [f"{tag}r0", f"{tag}r1"]
            out = rec.op("forget", lambda: eng.forget(gone), action=MnemoSparkEngine.materialized)
            if out is None:
                return
            eng = out
            breaks = rec.op(
                "verify", lambda: eng.verify_integrity().filter(F.col("n_breaks") > 0), "count")
            if breaks:
                rec.fail("verify", f"{breaks} chains with breaks")
            if ctx.tracer.enabled:
                store_rows.append(eng.memories.count())

    ctx.phase("warmup_s", warm_and_check)
    ctx.setup_done()

    t_start = time.perf_counter()
    ep = 0
    while True:
        episode(ep)
        ep += 1
        if time.perf_counter() - t_start >= ctx.seconds:
            break
    ctx.phases["measure_s"] = time.perf_counter() - t_start

    from tracing import median, tail

    def tail_of(kind):
        t = tail(rec.samples[kind])
        return None if t is None else {"pct": t[0], "s": round(t[1], 4)}

    ctx.named.update(
        n_memories=N_MEMORIES,
        episodes=ep,
        turns_per_episode=turns,
        ingest_mem_per_s=round(N_MEMORIES / ingest_s, 2),
        recall_p50_s=round(median(rec.samples["recall"]), 4),
        recall_tail=tail_of("recall"),
        remember_p50_s=round(median(rec.samples["remember"]), 4),
        remember_tail=tail_of("remember"),
        verify_s=round(median(rec.samples["verify"]), 4),
        per_turn={k: [[round(x, 4) for x in v] for v in vs] for k, vs in series.items()},
    )
    if not ctx.tracer.enabled:
        return
    lay = rec.layers
    ctx.named["store_rows"] = store_rows
    ctx.layers.update({
        "engine.remember_batch_s": median(lay["remember"]["plan.build_s"]),
        "engine.materialized_s": median(lay["remember"]["plan.action_s"])
        + median(lay["forget"]["plan.action_s"]),
        "engine.recall_s": median(rec.traced["recall"]),
        "engine.forget_s": median(lay["forget"]["plan.build_s"]),
        "engine.verify_integrity_s": median(rec.traced["verify"]),
        # the store the last turn's recall read
        "engine.store_partitions": median(series["store_partitions"][-1]),
        "engine.store_rows": median(store_rows),
        "txlog.save_s": ctx.phases["txlog.save_s"],
        "txlog.load_s": ctx.phases["txlog.load_s"],
    })
