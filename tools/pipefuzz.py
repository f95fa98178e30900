#!/usr/bin/env python3
"""Differential PIPELINE fuzzer (VERDICT r13 #3): the SQL fuzzer covers
the relational dialect; this one attacks the dedup/curation CASCADE's
fixed points — split geometry, clique shapes, id ordering — with
randomized PLANTED corpora. Per seed it synthesizes a documents +
embeddings pair (near-dup cliques of random size/mutation rate plus
background noise, ids SHUFFLED so the catalog's n/2 history split cuts
through cliques at a random phase; random vector dimensionality), runs
the suffix-parameterized-oracle catalog keys through graft.Verify
(key-filtered), and value-compares against the recomposed DuckDB CTE
oracles via tools/check.py — the same twice-composed-CTE machinery the
fixture gate certifies, re-derived per draw.

Usage: pipefuzz.py [outRoot] [--seeds 3,5,8] [--keys k1,k2,...]

Every run is seeded: the same seed regenerates the same corpus, and a
failure leaves the planted parquet + Spark results + oracle_sql.json on
disk under <outRoot>/seed<S>/ for standalone reproduction.
"""
import os
import random
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# the cascade keys whose oracles recompose from the corpus (the
# suffix-parameterized twoVersionCtes / vecClustersCtesFor family and
# the deterministic-geometry ANN entries), plus their cheap exact kin
KEYS = [
    # text cascade
    "d_dedup_exact", "d_dedup_keep_best", "d_dedup_cluster",
    "d_dedup_delta", "d_dedup_delta_r4", "d_dedup_delta_stored",
    "d_backbone_incr", "d_curation_drift", "d_dup_spans",
    "d_dup_span_ratio", "d_doc_chunks",
    # vector cascade + ANN
    "d_dedup_semantic", "d_semantic_incr", "d_semantic_incr_banded",
    "d_semantic_drift",
    "d_semantic_delta_stored", "d_semantic_delta_banded",
    "d_ann_lsh", "d_ann_lsh_banded",
    "d_ann_recall", "d_ann_recall_banded", "d_knn_cosine",
    "d_dedup_cosine",
    # quantizer-drift pair (r15): deterministic centers + exact
    # micro-unit Lloyd step reproduce per draw at any corpus the
    # planter emits (>= 16 vectors, any dims)
    "d_ann_ivf_drift", "d_ann_ivf_drift_recall",
    # symmetric-SQ8 trio (r15): global scale + int-exact scoring and the
    # pinned-scale clip audit recompose per draw at any corpus/dims
    "d_ann_sq8", "d_ann_recall_sq8", "d_ann_sq8_clip",
    # event-analytics family (r15): funnels/sequence counts on planted
    # per-user streams — window expiry and tie order vary per draw where
    # the fixture pins one geometry; keys that name one contract run the
    # same SQL aggregate and share its oracle
    "o_a15_funnel", "o_a15e_funnel_chunked", "o_a15f_funnel_sql",
    "o_a15b_funnel_dedup",
    "o_a15c_funnel_4stage", "o_a15d_funnel_strict", "o_a16_retention",
    "o_a17_seqmatch", "o_a17b_seqmatch_sql", "o_a18_seqcount", "o_a18b_seqcount_windowed",
    "o_a18c_seqcount_chunked", "o_a18d_seqcount_sql",
    "o_a18e_seqcount_sql_windowed", "o_a21_seq_next_node", "o_w1_dedup",
    # r16: the retention SQL aggregate, the pattern-grammar pair, and
    # the windowFunnel mode surface — their lead()/join oracles
    # recompose on any planted event stream
    "o_a16b_retention_sql", "o_a17c_seqmatch_gaps",
    "o_a17d_seqmatch_strictnext",
    "o_a15g_funnel_sql_strict", "o_a15h_funnel_sql_dedup",
    "o_a21b_seq_next_node_sql",
    # r17: the sequence_next_node direction x base surface, the
    # pattern-grammar negation, the combined funnel modes, and the
    # SAMPLE SQL-dialect clause — window/md5 oracles recompose on any
    # planted event stream (o_s7_limit_by_sql reads ORDERS, which this
    # corpus does not plant; its clause is fuzz-covered through
    # GraftSqlParserSpec's randomized shapes instead)
    "o_a21c_seq_next_node_backward", "o_a21d_seq_next_node_head",
    "o_a17e_seqmatch_negation", "o_a15i_funnel_sql_combined",
    "o_s8_sample_sql",
    # r17 stretch: trained-BPE token counts — the oracle RE-TRAINS the
    # merge table in DuckDB, so every planted corpus re-proves training
    # + encoding bit-for-bit (tok_fp pins the whole tokenization)
    "d_text_tokens_bpe",
    # r18: sequence_next_node's base_condition (planted `value` gates
    # roughly half the anchors per draw), the WITH FILL dialect clause
    # (events-fed: every draw re-proves the sequence+explode spine over
    # a different hour histogram with different holes), and the
    # BPE-precise budget/curriculum pair — each draw re-trains the merge
    # table AND re-runs the kept cascade, so the composed oracle's two
    # halves are re-proved together. (o_s7b_limit_by_offset_sql reads
    # ORDERS like o_s7 — not planted here; covered by the randomized
    # parser shapes in GraftSqlParserSpec.)
    "o_a21e_seq_next_node_base", "o_s9_with_fill_sql",
    "d_token_budget_bpe", "d_curriculum_bpe",
    # r18: WITH FILL FROM/TO — the literal 2024 bounds sit outside the
    # planted 1970-epoch streams, so every draw re-proves the [FROM, TO)
    # grid against a corpus it does NOT overlap (spine rows all filled,
    # original hours all outside the bounds — both survival rules)
    "o_s9b_with_fill_bounds_sql",
]

ADDOPENS = " ".join(
    f"--add-opens java.base/{p}=ALL-UNNAMED" for p in
    ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
     "java.net", "java.nio", "java.util", "java.util.concurrent",
     "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
     "sun.security.action", "sun.util.calendar"])


def plant_documents(rnd, outdir):
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    # near-dup cliques: shared token base, 0-2 mutations per member
    # (0 mutations -> exact duplicates, feeding d_dedup_exact/keep_best)
    for _ in range(rnd.randint(6, 14)):
        base = [rnd.choice(vocab) for _ in range(rnd.randint(9, 14))]
        for _ in range(rnd.randint(2, 5)):
            t = list(base)
            for _ in range(rnd.randint(0, 2)):
                t[rnd.randrange(len(t))] = rnd.choice(vocab)
            docs.append(" ".join(t))
    for _ in range(rnd.randint(40, 120)):
        docs.append(" ".join(rnd.choice(vocab)
                             for _ in range(rnd.randint(6, 16))))
    # the SHUFFLE is the split-geometry randomizer: the catalog's history
    # split is always count//2, so permuting ids moves which clique
    # members land on each side of the cut
    rnd.shuffle(docs)
    tbl = pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array(["en"] * len(docs), pa.string()),
        "source": pa.array([f"src{i % 3}" for i in range(len(docs))],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in docs], pa.int64()),
    })
    pq.write_table(tbl, f"{outdir}/documents.parquet")
    return len(docs)


def plant_events(rnd, outdir):
    """Random per-user event streams for the event-analytics family —
    the funnels/sequence counts have fixed-point hazards of their own
    (window expiry at exact gaps, tie ordering) that the uniform fixture
    exercises at only one geometry. Timestamps are a burst/spread
    mixture over ~40 days, with DUPLICATE timestamps planted to exercise
    the (ts, event_id) tie-break."""
    types = ["signup", "view", "click", "purchase", "error"]
    n_users = rnd.randint(8, 20)
    rows = []
    day_us = 24 * 3600 * 1000000
    for _ in range(rnd.randint(800, 2500)):
        user = rnd.randrange(n_users)
        base = rnd.randrange(40) * 6 * 3600 * 1000000
        if rnd.random() < 0.5:
            us = base + rnd.randrange(14 * 3600) * 1000000
        else:
            us = rnd.randrange(40 * day_us)
        rows.append((user, rnd.choice(types), us))
    # planted ties: duplicate a handful of timestamps across types
    for _ in range(rnd.randint(5, 25)):
        u, _, us = rnd.choice(rows)
        rows.append((u, rnd.choice(types), us))
    rnd.shuffle(rows)
    tbl = pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "event_type": pa.array([r[1] for r in rows], pa.string()),
        "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        "value": pa.array([float(i % 97) for i in range(len(rows))],
                          pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, f"{outdir}/events.parquet")
    return len(rows), n_users


def plant_embeddings(rnd, outdir):
    dims = rnd.choice([8, 16, 32, 64])
    vecs = []
    for _ in range(rnd.randint(5, 12)):
        base = [rnd.uniform(-1, 1) for _ in range(dims)]
        for _ in range(rnd.randint(2, 5)):
            vecs.append([x + rnd.uniform(-0.05, 0.05) for x in base])
    for _ in range(rnd.randint(30, 120)):
        vecs.append([rnd.uniform(-1, 1) for _ in range(dims)])
    rnd.shuffle(vecs)
    tbl = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([0] * len(vecs), pa.int32()),
    })
    pq.write_table(tbl, f"{outdir}/embeddings.parquet")
    return len(vecs), dims


def main():
    argv = sys.argv[1:]
    seeds = [3, 5, 8]
    keys = KEYS
    if "--seeds" in argv:
        i = argv.index("--seeds")
        seeds = [int(s) for s in argv[i + 1].split(",")]
        argv = argv[:i] + argv[i + 2:]
    if "--keys" in argv:
        i = argv.index("--keys")
        keys = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2:]
    out_root = argv[0] if argv else "/tmp/pipefuzz"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tdir = f"{repo}/target/scala-2.13"
    jars = sorted(
        (j for j in os.listdir(tdir)
         if j.endswith(".jar") and not j.endswith("-tests.jar")),
        key=lambda j: os.path.getmtime(f"{tdir}/{j}"))
    if not jars:
        print("pipefuzz: no jar — run `sbt package` first"); return 1
    cp = f"{tdir}/{jars[-1]}:/opt/spark/jars/*"

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import check

    rc_all = 0
    for seed in seeds:
        rnd = random.Random(seed)
        root = f"{out_root}/seed{seed}"
        corpus = f"{root}/corpus"
        out = f"{root}/out"
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(corpus)
        n_docs = plant_documents(rnd, corpus)
        n_vecs, dims = plant_embeddings(rnd, corpus)
        n_ev, n_users = plant_events(rnd, corpus)
        print(f"pipefuzz seed={seed}: {n_docs} docs, {n_vecs} vecs "
              f"(dims={dims}), {n_ev} events/{n_users} users, "
              f"split at {n_docs // 2}/{n_vecs // 2}")
        rc = subprocess.run(
            f"java {ADDOPENS} -Xmx8g -Dspark.ui.enabled=false "
            f"-Dspark.sql.session.timeZone=UTC -cp '{cp}' "
            f"graft.Verify {corpus} {out} {','.join(keys)}",
            shell=True, capture_output=True, text=True)
        for ln in rc.stderr.splitlines():
            if ln.startswith("[verify]"):
                print(f"  {ln}")
        if rc.returncode != 0:
            print(rc.stderr[-2000:])
            rc_all = 1
            continue
        rc_all |= check.main(corpus, out)
        # the parametric-aggregate window/pattern space (VERDICT r15 #6):
        # random windows, gap ops and patterns through the buffered SQL
        # aggregates vs in-memory brute-force references and generated
        # window plans, on the SAME planted tied corpus
        rp = subprocess.run(
            f"java {ADDOPENS} -Xmx8g -Dspark.ui.enabled=false "
            f"-Dspark.sql.session.timeZone=UTC -cp '{cp}' "
            f"graft.FuzzParametric {corpus} {seed}",
            shell=True, capture_output=True, text=True)
        for ln in rp.stdout.splitlines():
            if "DIVERGENCE" in ln or "ALL CHECKS" in ln:
                print(f"  {ln}")
        if rp.returncode != 0:
            print(rp.stderr[-2000:])
            print(f"pipefuzz seed={seed}: FuzzParametric FAILED")
            rc_all = 1
    return rc_all


if __name__ == "__main__":
    sys.exit(main())
