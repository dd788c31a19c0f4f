"""Text dedup skew control + MinHash hash family + ANN LSH recall."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from balrog_spark import annops, textops


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts}))


def _shingle_set(text, k=8):
    t = " ".join(text.lower().split())
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def test_hot_shingles_are_dropped(spark):
    # every doc shares the stop-shingle source "the quick ..." prefix
    texts = [f"the quick brown fox {i} jumps over the lazy dog {i}"
             for i in range(20)]
    d = _docs(spark, texts)
    sh_all = textops.shingles(d).toPandas()
    sh_capped = textops.shingles(d, max_df=10).toPandas()
    df_all = sh_all.groupby("shingle").size()
    hot = set(df_all[df_all > 10].index)
    assert hot, "fixture must contain hot shingles"
    assert set(sh_capped.shingle) == set(df_all[df_all <= 10].index)
    assert not (set(sh_capped.shingle) & hot)


def test_ngram_jaccard_matches_bruteforce_filtered_space(spark):
    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "a completely different document about spark engines",
             "the quick brown fox jumps over the lazy dog",  # exact dup of 0
             ]
    d = _docs(spark, texts)
    cap = 3
    got = textops.ngram_jaccard_pairs(d, threshold=0.2, max_df=cap) \
        .toPandas()
    # brute force over the SAME df-filtered shingle space
    sets = [_shingle_set(t) for t in texts]
    df_count = {}
    for s in sets:
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    fsets = [{g for g in s if df_count[g] <= cap} for s in sets]
    exp = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            u = fsets[i] | fsets[j]
            if not u:
                continue
            jac = len(fsets[i] & fsets[j]) / len(u)
            if jac >= 0.2:
                exp[(i, j)] = round(jac, 6)
    assert {(r.doc_a, r.doc_b): r.jaccard
            for r in got.itertuples()} == pytest.approx(exp)


def test_polynomial_shingle_hash_matches_python(spark):
    d = _docs(spark, ["abcdefgh stuvwxyz 12345678"])
    sh = textops.shingles(d)
    got = sh.select("shingle",
                    textops.shingle_hash_col(F.col("shingle"), 8)
                    .alias("h")).toPandas()

    def py_hash(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % textops.MH_P
        return h

    for r in got.itertuples():
        assert r.h == py_hash(r.shingle), r.shingle


def test_minhash_lsh_finds_exact_dups_no_md5(spark):
    texts = ["the quick brown fox jumps over the lazy dog! " * 3,
             "the quick brown fox jumps over the lazy dog! " * 3,
             "entirely different content with nothing in common here",
             ]
    d = _docs(spark, texts)
    got = textops.minhash_lsh_pairs(d).toPandas()
    assert (0, 1) in set(zip(got.doc_a, got.doc_b))
    assert not any({r.doc_a, r.doc_b} & {2}
                   for r in got.itertuples()), "disjoint doc joined"


def test_lsh_neardup_planted_recall(spark):
    rng = np.random.default_rng(9)
    n, dim = 40, 64
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    base = spark.createDataFrame(pd.DataFrame({
        "vec_id": list(range(n)),
        "embedding": [v.tolist() for v in vecs]}))
    planted = base.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda v: v * F.lit(1.5))
        .alias("embedding"))
    out = annops.lsh_neardup_pairs(base.unionByName(planted),
                                   threshold=0.999, n_planes=12) \
        .toPandas()
    exp = {(i, i + 1000) for i in range(0, n, 4)}
    assert set(zip(out.id_a, out.id_b)) == exp
    assert (out.cosine == 1.0).all()


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF with all cells probed equals brute force exactly; with fewer
    probes it returns a (deterministic) subset ranked identically."""
    rng = np.random.default_rng(21)
    n, dim = 200, 64
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": list(range(n)),
        "embedding": [v.tolist() for v in vecs]}))
    query = emb.orderBy("vec_id").limit(1)
    exact = annops.cosine_topk(emb, query, k=10).toPandas()
    full = annops.ivf_topk(emb, query, k=10, n_cells=8, n_probe=8) \
        .toPandas()
    pd.testing.assert_frame_equal(exact.reset_index(drop=True),
                                  full.reset_index(drop=True))
    probe2 = annops.ivf_topk(emb, query, k=10, n_cells=8, n_probe=2) \
        .toPandas()
    # probed subset: every returned pair must appear in the exact ranking
    # order (no invented scores), and recall@10 is reported deterministic
    exact_scores = dict(zip(exact.vec_id, exact.cosine))
    hits = sum(1 for v in probe2.vec_id if v in exact_scores)
    assert hits >= 5  # fixed corpus: deterministic recall floor
    assert list(probe2.cosine) == sorted(probe2.cosine, reverse=True)


def test_simhash_near_dup_detects_planted(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    texts = [base,
             base.replace("tonight", "today"),         # 1-token change
             "completely unrelated text about spark query planning "
             "and adaptive execution with shuffle partitions galore",
             base]                                      # exact dup
    d = _docs(spark, texts)
    fps = textops.simhash_fingerprints(d).toPandas().set_index("doc_id")
    assert fps.loc[0].simhash == fps.loc[3].simhash  # exact dup identical
    pairs = textops.simhash_neardup_pairs(d, max_hamming=3).toPandas()
    got = set(zip(pairs.doc_a, pairs.doc_b))
    assert (0, 3) in got
    assert (0, 1) in got or (1, 3) in got  # near dup within hamming 3
    assert not any(2 in p for p in got)   # unrelated doc excluded


def test_simhash_banding_pigeonhole_complete(spark):
    """Every pair within hamming 3 MUST be produced by the byte banding
    (pigeonhole) — compare against an all-pairs scan."""
    import itertools
    rng = np.random.default_rng(13)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    texts = [" ".join(rng.choice(words, 12)) for _ in range(30)]
    d = _docs(spark, texts)
    fps = textops.simhash_fingerprints(d).toPandas()
    fpmap = dict(zip(fps.doc_id, fps.simhash))
    exp = set()
    for a, b in itertools.combinations(sorted(fpmap), 2):
        if bin(fpmap[a] ^ fpmap[b]).count("1") <= 3:
            exp.add((a, b))
    got = textops.simhash_neardup_pairs(d, max_hamming=3).toPandas()
    assert set(zip(got.doc_a, got.doc_b)) == exp


def test_stratified_sample_deterministic_and_subset_invariant(spark):
    rng = np.random.RandomState(5)
    texts = ["w" + " w".join(str(rng.randint(9)) for _ in range(n))
             for n in rng.randint(5, 110, size=400)]
    d = _docs(spark, texts)
    fr = {0: 9000, 1: 5000, 2: 2500, 3: 1000}

    kept = textops.stratified_sample(d, fr, bucket_tokens=25).toPandas()
    again = textops.stratified_sample(d, fr, bucket_tokens=25).toPandas()
    assert sorted(kept.doc_id) == sorted(again.doc_id)   # no RNG anywhere

    # membership is a pure function of doc_id: sampling a filtered table
    # yields exactly the intersection
    half = d.filter(F.col("doc_id") % 2 == 0)
    kept_half = textops.stratified_sample(half, fr, bucket_tokens=25) \
        .toPandas()
    assert sorted(kept_half.doc_id) == \
        sorted(i for i in kept.doc_id if i % 2 == 0)

    # per-stratum keep rates approximate the configured fractions
    tot = textops.token_counts(d).toPandas()
    tot["bucket"] = np.minimum(tot.n_tokens // 25, 3)
    for b, bp in fr.items():
        n_all = int((tot.bucket == b).sum())
        n_kept = int((kept.bucket == b).sum())
        assert n_all > 20, "fixture must populate every stratum"
        # hash threshold: binomial-ish tolerance
        assert abs(n_kept / n_all - bp / 10000) < 0.12, (b, n_kept, n_all)
    # every kept key is under its stratum threshold (exact rule)
    thr = kept.bucket.map({k: v for k, v in fr.items()})
    assert (kept.sample_key < thr).all()


def test_dedup_clusters_transitive_chains(spark):
    """dedup_clusters: pairs are transitive CHAINS, not cliques — A-B
    and B-C must land in one cluster even though (A, C) was never a
    pair; singletons are their own canonical cluster; cluster_id is the
    component min and exactly one is_canonical row per cluster."""
    import pandas as pd

    from balrog_spark import textops

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5, 6, 7]}))
    # chain 1-2-3 (no 1-3 pair), pair 5-4 (reversed order), singletons 6,7
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 5], "doc_b": [2, 3, 4]}))
    got = textops.dedup_clusters(docs, pairs).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert list(got.cluster_id) == [1, 1, 1, 4, 4, 6, 7]
    assert list(got.is_canonical) == [True, False, False, True, False,
                                      True, True]
    # keep-only-canonical is the dedup filter
    assert sorted(got[got.is_canonical].doc_id) == [1, 4, 6, 7]


def test_dedup_clusters_long_chain_converges(spark):
    """A 40-link chain needs ~log rounds with path compression — far
    fewer than the diameter; the loop must converge inside max_rounds
    and label the whole chain with its min id."""
    import pandas as pd

    from balrog_spark import textops

    n = 40
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(n))}))
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": list(range(n - 1)),
                      "doc_b": list(range(1, n))}))
    got = textops.dedup_clusters(docs, pairs, max_rounds=10).toPandas()
    assert (got.cluster_id == 0).all()
    assert got.is_canonical.sum() == 1


def test_pack_sequences_next_fit_invariants(spark):
    """pack_sequences: every sequence's token sum respects the budget
    (except a lone oversized document), offsets are the in-sequence
    prefix sums, packing is deterministic, and a doc never splits."""
    import pandas as pd

    from balrog_spark import textops

    rows = [(i, "tok " * ((i * 37) % 90 + 1)) for i in range(80)]
    rows.append((1000, "x " * 500))          # oversized vs budget 128
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = textops.pack_sequences(docs, budget_tokens=128, n_shards=4) \
        .toPandas().sort_values(["shard", "seq_idx", "offset_tokens"])

    assert len(got) == len(rows)             # every doc packed, none split
    for (sh, seq), grp in got.groupby(["shard", "seq_idx"]):
        total = grp.n_tokens.sum()
        assert total <= 128 or len(grp) == 1, (sh, seq)
        # offsets are prefix sums in doc_id order
        grp = grp.sort_values("doc_id")
        assert list(grp.offset_tokens) == \
            list(grp.n_tokens.cumsum() - grp.n_tokens)
    # the oversized doc sits alone at offset 0
    big = got[got.doc_id == 1000].iloc[0]
    assert big.offset_tokens == 0 and big.n_tokens == 500

    again = textops.pack_sequences(docs, budget_tokens=128, n_shards=4) \
        .toPandas().sort_values(["shard", "seq_idx", "offset_tokens"])
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  again.reset_index(drop=True))


def test_dedup_clusters_random_graphs_match_union_find(spark):
    """Property check: on random graphs the distributed min-label
    propagation must match a plain union-find computed driver-side."""
    import numpy as np
    import pandas as pd

    from balrog_spark import textops

    rng = np.random.default_rng(23)
    for _ in range(3):
        n = int(rng.integers(20, 60))
        m = int(rng.integers(0, 50))
        edges = rng.integers(0, n, size=(m, 2))
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in range(n)}
        # canonical min id per component
        comp_min = {}
        for i in range(n):
            r = find(i)
            comp_min[r] = min(comp_min.get(r, i), i)
        want = {i: comp_min[find(i)] for i in range(n)}

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(range(n))}))
        pairs = spark.createDataFrame(
            pd.DataFrame(edges, columns=["doc_a", "doc_b"])) \
            if m else spark.createDataFrame(
                pd.DataFrame({"doc_a": pd.Series([], dtype="int64"),
                              "doc_b": pd.Series([], dtype="int64")}))
        got = textops.dedup_clusters(docs, pairs).toPandas()
        assert dict(zip(got.doc_id, got.cluster_id)) == want


def test_chunk_documents_reconstruction(spark):
    """Chunking invariants: chunk 0 plus each chunk's non-overlapping
    tail reconstructs the exact token stream; overlapping prefixes match
    the previous chunk's suffix; short docs yield one chunk."""
    import pandas as pd

    from balrog_spark import textops

    texts = {1: " ".join(f"t{i}" for i in range(100)),
             2: "only three tokens",
             3: " ".join(f"u{i}" for i in range(32))}
    docs = spark.createDataFrame(
        pd.DataFrame(list(texts.items()), columns=["doc_id", "text"]))
    got = textops.chunk_documents(docs, chunk_tokens=32,
                                  overlap_tokens=8).toPandas()
    for did, text in texts.items():
        toks = text.split()
        ch = got[got.doc_id == did].sort_values("chunk_idx")
        if len(toks) <= 32:
            assert len(ch) == 1 and ch.iloc[0].chunk_text == text
            continue
        rebuilt = ch.iloc[0].chunk_text.split()
        for _, r in ch.iloc[1:].iterrows():
            ctoks = r.chunk_text.split()
            assert rebuilt[-8:] == ctoks[:8]          # overlap agrees
            rebuilt.extend(ctoks[8:])
        assert rebuilt == toks
        assert (ch.n_tokens == ch.chunk_text.str.split().str.len()).all()


def test_decontaminate_flags_semantics(spark):
    import pandas as pd

    from balrog_spark import textops

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["the secret benchmark passage lives here",
                 "totally unrelated content with zero leak",
                 "contains the secret benchmark passage too",
                 "short"]}))                      # too short to shingle
    bench = spark.createDataFrame(pd.DataFrame({
        "doc_id": [99], "text": ["secret benchmark passage"]}))
    got = textops.decontaminate_flags(docs, bench, k=8).toPandas() \
        .set_index("doc_id")
    assert bool(got.loc[1].contaminated) and bool(got.loc[3].contaminated)
    assert not got.loc[2].contaminated
    assert not got.loc[4].contaminated and got.loc[4].n_hit_shingles == 0


def test_upsample_repeats_fraction_and_downsample(spark):
    """2.3x: every doc 2 or 3 copies with the hash-selected third copy
    near 30%; 0.4x: subset with one copy each, consistent with the same
    hash keys (the 0.4 set is the sample_key < 4000 membership)."""
    import pandas as pd

    from balrog_spark import textops

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(1, 2001))}))
    up = textops.upsample_repeats(docs, factor_bp=23000).toPandas()
    per = up.groupby("doc_id").copy_idx.count()
    assert set(per.unique()) <= {2, 3} and len(per) == 2000
    assert abs((per == 3).mean() - 0.3) < 0.05
    assert (up.groupby("doc_id").copy_idx.max() + 1 == per).all()

    down = textops.upsample_repeats(docs, factor_bp=4000).toPandas()
    assert (down.copy_idx == 0).all()
    assert abs(len(down) / 2000 - 0.4) < 0.05
    # hash-threshold monotonicity: the 2.3x third-copy set is
    # sample_key < 3000, the 0.4x survivors are sample_key < 4000 — so
    # every 3-copy doc MUST appear in the 0.4x sample
    third = set(per[per == 3].index)
    assert third <= set(down.doc_id)


def test_take_token_budget_floor_semantics(spark):
    import pandas as pd

    from balrog_spark import textops

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a " * 50, "b " * 40, "c " * 30, "d " * 20]}))
    got = textops.take_token_budget(docs, budget_tokens=95).toPandas() \
        .sort_values("doc_id")
    # longest-first: 50 (cum_before 0) + 40 (50) + 30 (90 < 95, included
    # as the crossing doc) — 20 starts at 120 >= 95, excluded
    assert list(got.doc_id) == [1, 2, 3]
    assert list(got.cum_before) == [0, 50, 90]


def test_dedup_clusters_skewed_giant_component(spark):
    """One hub component holding ~90% of all edges (the boilerplate-page
    reality at corpus scale): clustering must stay correct, converge in
    a handful of rounds (the checkpoint-truncated propagation is
    O(log diameter), and a star has diameter 2), and its per-round
    shuffle volume must stay at the structural 2|E| bound — no row
    multiplication from the hot key."""
    import pandas as pd

    from balrog_spark import textops

    hub_edges = [(0, i) for i in range(1, 1801)]       # star: 1800 edges
    chain_edges = [(2000 + c * 100 + i, 2000 + c * 100 + i + 1)
                   for c in range(10) for i in range(19)]  # 10 chains
    edges = hub_edges + chain_edges
    assert len(hub_edges) / len(edges) > 0.89
    node_ids = sorted({n for e in edges for n in e} | {9999})  # +isolate
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": node_ids}))
    pairs = spark.createDataFrame(
        pd.DataFrame(edges, columns=["doc_a", "doc_b"]))
    stats = {}
    got = textops.dedup_clusters(docs, pairs, stats=stats).toPandas() \
        .set_index("doc_id")
    # correctness: star floods to 0, chains to their min, isolate alone
    assert (got.loc[list(range(0, 1801))].cluster_id == 0).all()
    for c in range(10):
        base = 2000 + c * 100
        members = list(range(base, base + 20))
        assert (got.loc[members].cluster_id == base).all()
    assert got.loc[9999].cluster_id == 9999
    assert got.is_canonical.sum() == 12      # hub + 10 chains + isolate
    # round bound: chains of 20 dominate (log diameter with path
    # compression); the giant star must NOT inflate the round count
    assert stats["rounds"] <= 7, stats
    # structural shuffle bound: symmetric dedup'd edge list, 2|E| rows
    assert stats["edge_rows"] == 2 * len(edges)


def test_dedup_incremental_matches_full_banding(spark, tmp_path):
    """Incremental dedup (batch vs persisted signature store) equals
    the full-corpus banding restricted to pairs whose LATER doc is in
    the batch, with dup_of = min colliding partner; signatures survive
    a parquet store round trip (the persisted-store contract)."""
    base = ("the quick brown fox jumps over the lazy dog and then "
            "wanders far across the wide open field looking for more")
    texts = [
        base,                                   # 0 old
        base + " with a tiny suffix",           # 1 old (near-dup of 0)
        "completely different old document about spark physical plans "
        "and adaptive query execution at large scale",   # 2 old
        "another unrelated old text describing parquet row groups and "
        "column chunk statistics in great detail",       # 3 old
        base,                                   # 4 new: dup of old 0/1
        "fresh unique new document mentioning nothing shared with any "
        "other text in this corpus whatsoever today",    # 5 new clean
        "batch internal duplicate sentence repeated across two new docs "
        "for the in-batch pairing path of the operator",  # 6 new
        "batch internal duplicate sentence repeated across two new docs "
        "for the in-batch pairing path of the operator",  # 7 new: dup of 6
    ]
    d = _docs(spark, texts)
    old = d.filter(F.col("doc_id") < 4)
    new = d.filter(F.col("doc_id") >= 4)
    store = str(tmp_path / "sigs")
    textops.minhash_signatures(old).write.parquet(store)
    sigs = spark.read.parquet(store)

    inc = textops.dedup_incremental(new, sigs).toPandas() \
        .set_index("doc_id").dup_of.to_dict()

    full = textops.minhash_lsh_pairs(d).toPandas()
    want = {}
    for a, b in full[["doc_a", "doc_b"]].values:
        if b >= 4:                       # later doc is in the batch
            want[b] = min(want.get(b, a), a)
    assert inc == want
    # fixture sanity: exact new dup flagged against the store's
    # earliest partner, in-batch dup flagged against its twin,
    # clean doc absent
    assert inc[4] == 0 and inc[7] == 6 and 5 not in inc


def test_substring_runs_plan_has_no_global_stage(spark):
    """Every window in substring_runs / remove_duplicate_spans is
    partitioned ((pair, diag) islands; per-doc interval merge) — the
    physical plan must contain no SinglePartition exchange anywhere."""
    texts = [f"document {i} shares this exact boilerplate sentence body"
             for i in range(6)]
    d = _docs(spark, texts)
    for df in (textops.substring_runs(d, min_len=24),
               textops.remove_duplicate_spans(d, min_len=24)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan
        assert "SinglePartition" not in plan


def test_take_token_budget_sharded_matches_global(spark):
    """The production range-sharded two-pass must equal the global
    single-window formulation exactly, on a skewed corpus (one hot
    length repeated 200x so shard boundaries land mid-tie), and its
    plan must contain only PARTITIONED windows (no single-partition
    global sort stage)."""
    import pandas as pd

    from pyspark.sql import Window, functions as F

    from balrog_spark import textops

    lens = ([500] * 3 + [37] * 200 +
            [(i * 97) % 300 + 1 for i in range(300)])
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i:04d}" for i in range(len(lens))],
        "text": ["x " * n for n in lens]}))
    budget = sum(lens) // 3
    got = textops.take_token_budget(docs, budget, shards=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # every Window in the plan is partitioned by _shard — a global
    # window would show an empty partition spec (single-task sort)
    assert "Window" in plan
    assert "_shard" in plan
    import re
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "_shard" in m.group(0)
    gp = got.toPandas().sort_values("doc_id").reset_index(drop=True)

    toks = textops.token_counts(docs).select("doc_id", "n_tokens")
    w = Window.orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
    ref = toks.withColumn(
        "cum_before",
        F.coalesce(F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"))) \
        .filter(F.col("cum_before") < budget) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(gp, ref)


def test_take_token_budget_prunes_and_empty(spark):
    import pandas as pd

    from balrog_spark import textops

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(100)],
        "text": ["w " * 10] * 100}))
    # budget smaller than any single document still keeps the first
    # (floor semantics: cum_before 0 < budget)
    one = textops.take_token_budget(docs, budget_tokens=1, shards=4) \
        .toPandas()
    assert len(one) == 1 and one.cum_before.iloc[0] == 0
    # zero budget -> empty frame with the contract schema
    zero = textops.take_token_budget(docs, budget_tokens=0, shards=4)
    assert zero.count() == 0
    assert zero.columns == ["doc_id", "n_tokens", "cum_before"]


def test_local_checkpoint_fresh_pins_stats_across_self_join_rounds(spark):
    """Pin the iterative-self-join stats pathology and its fix.

    Dataset.localCheckpoint carries the truncated plan's sizeInBytes
    onto the LogicalRDD, and a self-join SQUARES it — digit count
    doubles per round, and by round ~20 the driver stalls for minutes
    inside BigInteger.multiply (measured 0.3 s/round flat then
    2.8x/round up to 300 s on 50k constant rows). The engine's CC loops
    (textops.dedup_clusters, raster.polygonize_components) therefore
    checkpoint through session.local_checkpoint_fresh, which rebuilds
    the frame over the checkpointed InternalRow RDD with default stats.

    Asserts (a) the mechanism: plain localCheckpoint's estimate at
    least squares per self-join round; (b) the fix: the helper's
    estimate stays pinned at the default across 25 rounds — far past
    the round-18 wall — with the data intact."""
    from pyspark.sql import functions as F

    from balrog_spark.session import local_checkpoint_fresh

    def hop(df):
        m = df.select(F.col("nid").alias("label"),
                      F.col("label").alias("ll"))
        return (df.alias("s").join(m.alias("t"), "label", "left")
                .select("nid",
                        F.least("label", F.coalesce("ll", "label"))
                        .alias("label")))

    def size_digits(df):
        return len(str(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))

    base = spark.range(500).select(
        F.col("id").cast("string").alias("nid"),
        F.col("id").cast("string").alias("label"))

    plain = base.localCheckpoint(eager=True)
    digits = [size_digits(plain)]
    for _ in range(4):
        plain = hop(plain).localCheckpoint(eager=True)
        digits.append(size_digits(plain))
    assert digits[-1] >= 2 * digits[0] + 2, digits   # squaring growth

    fixed = local_checkpoint_fresh(base)
    d0 = size_digits(fixed)
    for _ in range(25):
        fixed = local_checkpoint_fresh(hop(fixed))
    assert size_digits(fixed) == d0 <= 19            # pinned at default
    out = fixed.toPandas()
    assert len(out) == 500 and (out.nid == out.label).all()


def test_dedup_clusters_shuffled_id_chain_logarithmic_rounds(spark):
    """Adversarial id layout: a 300-link chain whose node ids are
    pseudo-randomly permuted along the chain. Edge-hop propagation
    moves the min O(1) links per round however hard the label forest
    is flattened (the 50k campaign's diameter-47 template chains blew
    a 20-round cap this way); the star-contraction step makes rounds
    logarithmic. Asserts convergence within 12 rounds and exact
    component labels."""
    import pandas as pd

    from balrog_spark import textops

    n = 300
    perm = sorted(range(n), key=lambda i: (i * 127) % n)  # gcd(127,300)=1
    pairs = pd.DataFrame({"doc_a": [perm[i] for i in range(n - 1)],
                          "doc_b": [perm[i + 1] for i in range(n - 1)]})
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    stats = {}
    got = textops.dedup_clusters(
        docs, spark.createDataFrame(pairs), max_rounds=12,
        stats=stats).toPandas()
    assert (got.cluster_id == 0).all()
    assert got.is_canonical.sum() == 1
    assert stats["rounds"] <= 12, stats


def test_vectorized_shingle_scan_matches_expression_path(spark):
    """The Arrow-batched shingle scan must be bit-identical to the
    pure-column formulation it replaced: per-window hashes equal
    shingle_hash_col over exploded substrings (including multi-space
    runs that normalization collapses and a non-ASCII code point), and
    minhash signatures computed inside the scan equal the
    explode+groupBy formulation."""
    import numpy as np

    texts = ["the quick  brown\tfox JUMPS over the lazy dog",
             "abcdefgh" * 5,
             "short",                                # < k: no shingles
             "café au lait café au lait again and again",
             "  leading and trailing  "]
    d = _docs(spark, texts)

    # (a) hash stream == string path hashed
    want = (textops.shingles(d, distinct=True)
            .select("doc_id",
                    textops.shingle_hash_col(F.col("shingle"), 8)
                    .alias("h"))
            .distinct().toPandas())
    got = textops.shingle_hash_stream(d, 8).toPandas()
    key = lambda df: sorted(map(tuple, df[["doc_id", "h"]].values))
    assert key(got) == key(want)

    # (b) in-scan minhash signatures == expression formulation
    sh = textops.shingles(d, distinct=False)
    hs = sh.select("doc_id",
                   textops.shingle_hash_col(F.col("shingle"), 8)
                   .alias("h"))
    want_mh = hs.groupBy("doc_id").agg(*[
        F.min((F.lit(textops.MH_A[i]) * F.col("h")
               + F.lit(textops.MH_B[i])) % F.lit(textops.MH_P))
        .alias(f"mh{i}") for i in range(12)]).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    # reuse the production scan by driving the full operator on a world
    # where banding output is irrelevant; signatures surface through the
    # python helper directly
    for _, row in want_mh.iterrows():
        t = texts[int(row.doc_id)]
        h = textops._poly_shingle_hashes(textops._norm_py(t), 8)
        for i in range(12):
            assert int(((textops.MH_A[i] * h + textops.MH_B[i])
                        % textops.MH_P).min()) == row[f"mh{i}"]


def _brute_runs(a_norm, b_norm, min_len):
    """All maximal common character runs >= min_len between two strings
    as (a_start, b_start, run_len), 1-based positions."""
    out = []
    for diag in range(-(len(b_norm) - 1), len(a_norm)):
        i, j = max(0, diag), max(0, -diag)
        cur, si, sj = 0, 0, 0
        while i < len(a_norm) and j < len(b_norm):
            if a_norm[i] == b_norm[j]:
                if cur == 0:
                    si, sj = i, j
                cur += 1
            else:
                if cur >= min_len:
                    out.append((si + 1, sj + 1, cur))
                cur = 0
            i += 1
            j += 1
        if cur >= min_len:
            out.append((si + 1, sj + 1, cur))
    return out


def test_substring_runs_match_bruteforce(spark):
    """Operator output == per-pair brute-force maximal common runs on a
    corpus exercising: planted shared spans at different offsets,
    whitespace/case normalization, internal repetition (same window at
    many positions), multiple runs on one diagonal, and docs too short
    to window."""
    shared = "the exact same long boilerplate sentence appears here"
    texts = [
        f"intro one {shared} tail alpha",
        f"a different much longer preamble before {shared} and more",
        f"intro one {shared.upper()}   tail beta",   # case+ws normalize
        "zz " + "ab" * 40 + " yy",                    # internal repetition
        "qq " + "ab" * 40 + " ww",
        "short",
        f"intro one {shared} tail alpha",             # exact dup of 0
    ]
    d = _docs(spark, texts)
    got = textops.substring_runs(d, min_len=24, k=12, max_df=None) \
        .toPandas().sort_values(
            ["doc_a", "doc_b", "a_start", "b_start"]).reset_index(drop=True)
    want = []
    norms = [textops._norm_py(t) for t in texts]
    for ia in range(len(texts)):
        for ib in range(ia + 1, len(texts)):
            for (sa, sb, ln) in _brute_runs(norms[ia], norms[ib], 24):
                want.append((ia, ib, sa, sb, ln))
    want = sorted(want)
    assert [tuple(r) for r in got[
        ["doc_a", "doc_b", "a_start", "b_start", "run_len"]].values] == want
    # sanity on the fixture: dup pair covers the whole doc, offset pair
    # found, repetition pair produced a long diagonal family
    full = got[(got.doc_a == 0) & (got.doc_b == 6)]
    assert len(full) == 1 and full.run_len.iloc[0] == len(norms[0])
    assert ((got.doc_a == 3) & (got.doc_b == 4)).any()


def test_substring_runs_max_df_splits_hot_windows(spark):
    """Windows over the occurrence cap are dropped before the join;
    runs through them split deterministically (both engines apply the
    identical cap) and fragments below min_len disappear."""
    boiler = "every document carries this exact boilerplate string"
    texts = [f"doc {i} prefix {boiler} suffix {i}" for i in range(12)]
    d = _docs(spark, texts)
    uncapped = textops.substring_runs(d, min_len=24, k=12, max_df=None)
    capped = textops.substring_runs(d, min_len=24, k=12, max_df=10)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un == 12 * 11 // 2  # every pair shares the boilerplate run
    assert n_cap == 0            # the hot windows all exceed df=10
    assert textops.substring_runs(d, min_len=24, k=12,
                                  max_df=10_000).count() == n_un


def test_substring_runs_rejects_min_len_below_k(spark):
    d = _docs(spark, ["some text"])
    with pytest.raises(ValueError):
        textops.substring_runs(d, min_len=8, k=12)


def test_substring_runs_default_k_survives_common_token_windows(spark):
    """The k=12 scale defect in miniature (sf1 campaign: 0 rows at 50k
    docs): a token phrase common across the corpus makes the 12-char
    windows inside it corpus-hot, so a fixed df cap drops them and
    SHREDS any pair-specific run crossing the phrase. With the default
    k = min_len the window key is as selective as the run floor itself:
    only corpus-hot run-length strings (real boilerplate — here the
    filler docs' shared template, correctly capped away) are dropped,
    and the pair-specific run survives intact."""
    run = "alpha beta keyword gamma delta epsilon zeta"
    texts = [f"filler {i} mentions keyword gamma only" for i in range(60)]
    pa, pb = len(texts), len(texts) + 1
    texts += [f"first document shares {run} here",
              f"second one also carries {run} trailing"]
    d = _docs(spark, texts)
    norms = [textops._norm_py(t) for t in texts]
    want = sorted(_brute_runs(norms[pa], norms[pb], 24))
    assert len(want) == 1 and want[0][2] > 40  # fixture: one long run

    whole = textops.substring_runs(d, min_len=24, max_df=30).toPandas()
    pair = whole[(whole.doc_a == pa) & (whole.doc_b == pb)]
    assert sorted(map(tuple, pair[
        ["a_start", "b_start", "run_len"]].values)) == want
    # the filler template IS corpus-hot boilerplate: its pure-template
    # windows (df=60) are capped, so filler-pair runs survive only where
    # a rare digit-anchored window (df=6) proves them — truncated below
    # the 29-char brute-force template run
    others = whole[(whole.doc_a != pa) | (whole.doc_b != pb)]
    assert (others.run_len < 29).all()

    # k=12 under the same cap: " keyword gamma " windows are hot
    # (df=62 > 30), the run fragments and no fragment covers it whole
    frag = textops.substring_runs(d, min_len=24, k=12,
                                  max_df=30).toPandas()
    fpair = frag[(frag.doc_a == pa) & (frag.doc_b == pb)]
    assert fpair.empty or fpair.run_len.max() < want[0][2]


def _brute_remove(norms, runs, min_len):
    """Reference span removal: excise every run from the later doc,
    merging overlaps, via a boolean keep-mask per document."""
    masks = {i: [True] * len(n) for i, n in enumerate(norms)}
    for (da, db, sa, sb, ln) in runs:
        for p in range(sb - 1, sb - 1 + ln):
            masks[db][p] = False
    out = {}
    for i, n in enumerate(norms):
        kept = "".join(c for c, m in zip(n, masks[i]) if m)
        removed = len(n) - len(kept)
        # merged span count: falling edges of the keep mask
        spans = sum(1 for p in range(len(n))
                    if not masks[i][p] and (p == 0 or masks[i][p - 1]))
        out[i] = (kept, spans, removed)
    return out


def test_remove_duplicate_spans_matches_mask_reference(spark):
    """Span removal == per-character mask reference on a corpus with
    overlapping runs from different partners, a doc that is both keeper
    (as doc_a) and loser (as doc_b), exact dups, and span-free docs."""
    shared = "the exact same long boilerplate sentence appears here"
    other = "another distinct repeated fragment of considerable size"
    texts = [
        f"intro one {shared} tail alpha",
        f"{other} leading then {shared} trailing",   # loses shared to 0,
                                                     # keeps other (vs 3)
        "completely unrelated text with no long repeats at all",
        f"closing doc has {other} inside it",        # loses other to 1
        f"intro one {shared} tail alpha",            # exact dup of 0
    ]
    d = _docs(spark, texts)
    norms = [textops._norm_py(t) for t in texts]
    runs = [tuple(r) for r in textops.substring_runs(
        d, min_len=24, k=12, max_df=None).toPandas()[
        ["doc_a", "doc_b", "a_start", "b_start", "run_len"]].values]
    want = _brute_remove(norms, runs, 24)
    got = textops.remove_duplicate_spans(d, min_len=24, k=12, max_df=None) \
        .toPandas().set_index("doc_id").sort_index()
    assert len(got) == len(texts)
    for i in range(len(texts)):
        r = got.loc[i]
        assert (r.clean_text, r.n_spans, r.n_removed) == want[i], i
    # fixture sanity: doc 0 untouched, dup doc 4 loses everything it
    # shares with doc 0 (the whole text), doc 1 loses shared only
    assert got.loc[0].clean_text == norms[0]
    assert got.loc[4].clean_text == ""
    assert shared not in got.loc[1].clean_text
    assert other in got.loc[1].clean_text
    assert got.loc[2].n_spans == 0


def test_remove_duplicate_spans_accepts_precomputed_runs(spark):
    texts = ["abcdefghijklmnopqrstuvwxyz 0123456789 shared tail here",
             "prefix abcdefghijklmnopqrstuvwxyz 0123456789 shared tail"]
    d = _docs(spark, texts)
    runs = textops.substring_runs(d, min_len=24, k=12, max_df=None)
    a = textops.remove_duplicate_spans(d, min_len=24, k=12, max_df=None)
    b = textops.remove_duplicate_spans(d, runs=runs)
    pa = a.toPandas().sort_values("doc_id").reset_index(drop=True)
    pb = b.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(pa, pb)


def test_ivf_index_store_append_search(spark, tmp_path):
    """The IVF index is storable: centroids + assignments round-trip
    through parquet, a new batch appends with ONE broadcast assign
    against the frozen centroids, and a planted batch vector identical
    in direction to the query surfaces in the combined search with
    cosine 1.0 — the stored vectors are never re-assigned."""
    def vec(i, scale=1.0):
        return [(((i * 31 + j * 17) % 97) / 97.0 + 0.1) * scale
                for j in range(8)]

    base = spark.createDataFrame(
        pd.DataFrame({"vec_id": list(range(40)),
                      "embedding": [vec(i) for i in range(40)]}))
    cents, assigned = annops.ivf_index(base, n_cells=8)
    cdir, adir = str(tmp_path / "cents"), str(tmp_path / "assigned")
    cents.write.parquet(cdir)
    assigned.write.parquet(adir)
    cents2 = spark.read.parquet(cdir)
    assigned2 = spark.read.parquet(adir)

    # batch: 9 unrelated vectors + one pointing exactly along vec(0)
    batch = spark.createDataFrame(
        pd.DataFrame({"vec_id": list(range(100, 110)),
                      "embedding": [vec(i) for i in range(100, 109)]
                      + [vec(0, scale=0.5)]}))
    combined = assigned2.unionByName(annops.ivf_append(batch, cents2))

    query = base.filter(F.col("vec_id") == 0)
    got = annops.ivf_search(combined, cents2, query, k=5,
                            n_probe=3).toPandas()
    # query vector itself and the planted colinear batch vector share
    # cosine 1.0; tie-break is vec_id asc
    assert list(got.vec_id[:2]) == [0, 109]
    assert got.cosine.iloc[0] == 1.0 and got.cosine.iloc[1] == 1.0

    # store round trip is exact: in-memory index gives the same search
    mem = annops.ivf_search(
        assigned.unionByName(annops.ivf_append(batch, cents)),
        cents, query, k=5, n_probe=3).toPandas()
    pd.testing.assert_frame_equal(got, mem)
