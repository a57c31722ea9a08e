"""Dedup family + similarity search + text stats, with planted ground
truth (the oracle here is construction: we inject known duplicates)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gmql_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from gmql_spark.operators.similarity import cosine_topk, lsh_bucket_topk
from gmql_spark.operators.textstats import fingerprint, language_id, quality_features


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "pack my box with five dozen liquor jugs and some extra bottles",
        "sphinx of black quartz judge my vow said the old wise man",
        "il gatto dorme sulla sedia vicino alla finestra di casa e il cane",
        "der hund läuft schnell durch den park und die katze ist nicht da",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))
        rows.append((i * 10 + 1, t))  # exact duplicate
        words = t.split()
        words[3] = "CHANGED"
        rows.append((i * 10 + 2, " ".join(words)))  # near duplicate
        rows.append((i * 10 + 3, f"totally unrelated text number {i} with random words qq{i}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = exact_dedup(docs).toPandas()
    dups = out[out.n_dups > 1]
    assert len(dups) == 5 and (dups.n_dups == 2).all()
    assert set(dups.keep_id) == {0, 10, 20, 30, 40}


def test_ngram_jaccard_finds_planted_pairs(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.9, n=3).toPandas()
    exact = {(r.id_a, r.id_b) for r in pairs[pairs.jaccard == 1.0].itertuples()}
    assert {(0, 1), (10, 11), (20, 21), (30, 31), (40, 41)} <= exact
    # near-dup pair (one word changed) found at a lower threshold
    lower = ngram_jaccard_pairs(docs, threshold=0.3, n=3).toPandas()
    assert any((a // 10 == b // 10) and (b % 10 == 2) for a, b in zip(lower.id_a, lower.id_b))


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    pairs = minhash_lsh_pairs(docs, num_perm=64, bands=16, threshold=0.5).toPandas()
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert {(0, 1), (10, 11), (20, 21), (30, 31), (40, 41)} <= got
    ej = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.itertuples()}
    assert all(ej[p] == 1.0 for p in [(0, 1), (10, 11)])


def test_minhash_hot_bucket_cap(spark, docs):
    # 10^4 identical docs share every band bucket -> uncapped LSH would
    # fan out ~5*10^7 candidate pairs; the cap drops those buckets so
    # the output stays linear in the distinct corpus
    hot = spark.range(100_000, 110_000).select(
        F.col("id").alias("doc_id"),
        F.lit("identical hot document text repeated many times over and over").alias("text"),
    )
    capped = minhash_lsh_pairs(
        docs.unionByName(hot), num_perm=64, bands=16, threshold=0.5, max_bucket_size=100
    ).toPandas()
    # nothing from the hot block (its buckets are oversized), and the
    # distinct corpus's pairs are exactly the uncapped result on it
    assert not ((capped.id_a >= 100_000) | (capped.id_b >= 100_000)).any()
    base = minhash_lsh_pairs(docs, num_perm=64, bands=16, threshold=0.5).toPandas()
    key = lambda d: {(r.id_a, r.id_b) for r in d.itertuples()}  # noqa: E731
    assert key(capped) == key(base)
    # a cap no bucket exceeds is a no-op
    nocap_equiv = minhash_lsh_pairs(
        docs, num_perm=64, bands=16, threshold=0.5, max_bucket_size=100
    ).toPandas()
    assert key(nocap_equiv) == key(base)


def test_minhash_lsh_rejects_uneven_bands(docs):
    # 64 perms / 10 bands would band only 60 of the 64 signature columns
    with pytest.raises(ValueError, match=r"num_perm \(64\).*bands \(10\)"):
        minhash_lsh_pairs(docs, num_perm=64, bands=10)


def test_simhash_near_pairs(docs):
    pairs = simhash_near_pairs(docs, max_hamming=10).toPandas()
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert {(0, 1), (10, 11), (20, 21), (30, 31), (40, 41)} <= got  # exact dups: hamming 0


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.Generator(np.random.PCG64(3))
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(df.filter(F.col("vec_id") < 5), df, k=3).toPandas()
    # numpy oracle
    v = vecs.astype(np.float64)
    sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    for q in range(5):
        s = sims[q].copy()
        s[q] = -np.inf
        top = np.argsort(-s, kind="stable")[:3]
        got = out[out.query_id == q].sort_values("rank").neighbor_id.tolist()
        assert got == top.tolist(), f"query {q}: {got} vs {top}"


def test_lsh_topk_recall(spark):
    rng = np.random.Generator(np.random.PCG64(4))
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") < 10)
    exact = cosine_topk(q, df, k=5).toPandas()
    approx = lsh_bucket_topk(q, df, k=5, n_planes=6, n_tables=16, dim=16).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_ngram_jaccard_hot_shingle_cap(spark):
    """max_doc_count drops corpus-wide shingles before the self-join:
    docs sharing ONLY a stopword boilerplate phrase stop pairing, while
    true near-dups keep jaccard >= threshold."""
    from gmql_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "the quick brown fox jumps over dog"
    rows = [(i, f"{boiler} unique{i} alpha{i} beta{i} gamma{i}") for i in range(20)]
    rows += [(100, f"{boiler} same same same same same"),
             (101, f"{boiler} same same same same same")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(docs, threshold=0.3)
    capped = ngram_jaccard_pairs(docs, threshold=0.3, max_doc_count=5)
    # the planted identical pair survives the cap (its non-boiler
    # shingles are unique to the pair)
    assert (100, 101) in {(r.id_a, r.id_b) for r in capped.collect()}
    # boilerplate-only pairs exist uncapped but not capped
    un = {(r.id_a, r.id_b) for r in uncapped.collect()}
    cp = {(r.id_a, r.id_b) for r in capped.collect()}
    assert len(cp) < len(un)


def test_cosine_near_pairs_brute_and_lsh(spark):
    """Brute pairs match the numpy threshold-join exactly; the LSH path
    recovers most of them (planted near-dups collide with high prob)."""
    from gmql_spark.operators.similarity import cosine_near_pairs

    rng = np.random.Generator(np.random.PCG64(5))
    base = rng.standard_normal((40, 16)).astype(np.float64)
    # plant 10 near-duplicates: vec 40+i = slightly-perturbed vec i
    planted = base[:10] + 0.05 * rng.standard_normal((10, 16))
    vecs = np.vstack([base, planted])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in cosine_near_pairs(df, threshold=0.9, method="brute").collect()
    }
    v32 = vecs.astype(np.float32).astype(np.float64)  # storage round-trip
    sims = (v32 @ v32.T) / (
        np.linalg.norm(v32, axis=1)[:, None] * np.linalg.norm(v32, axis=1)[None, :]
    )
    exp = {
        (a, b)
        for a in range(len(vecs))
        for b in range(a + 1, len(vecs))
        if sims[a, b] >= 0.9
    }
    assert got == exp and len(exp) >= 10  # all planted pairs found

    lsh = {
        (r.id_a, r.id_b)
        for r in cosine_near_pairs(
            df, threshold=0.9, method="lsh", n_planes=6, n_tables=12, dim=16
        ).collect()
    }
    assert lsh <= got  # no false positives (exact verify stage)
    assert len(lsh & got) / len(got) >= 0.7, f"LSH recall {len(lsh & got)/len(got)}"


def test_textstats(docs):
    qf = quality_features(docs).toPandas()
    assert (qf.n_tokens > 0).all() and qf.quality_score.between(0, 1).all()
    li = language_id(docs).toPandas().set_index("doc_id")
    assert li.loc[0, "lang_pred"] == "en"
    assert li.loc[30, "lang_pred"] == "it"
    assert li.loc[40, "lang_pred"] == "de"
    fp = fingerprint(docs).toPandas()
    assert fp.loc[fp.doc_id == 0, "fingerprint"].iloc[0] == fp.loc[fp.doc_id == 1, "fingerprint"].iloc[0]


def test_ivf_topk_recall_vs_brute(spark):
    """IVF probe path: recall@5 vs brute-force must be high on random
    vectors with 3-of-8 probed cells (misses only neighbors in
    unprobed cells)."""
    from gmql_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.Generator(np.random.PCG64(21))
    vecs = rng.standard_normal((300, 32))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 15")
    cen = rng.standard_normal((6, 32))

    brute = {(r.query_id, r.neighbor_id) for r in cosine_topk(q, emb, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in ivf_topk(q, emb, cen, k=5, n_probe=3).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.5, recall


def test_trained_centroids_beat_random_and_are_deterministic(spark):
    """train_ivf_centroids (md5-ranked sample -> seeded spherical
    Lloyd's): on clustered data, trained cells must give ivf_topk
    HIGHER recall@5 vs brute force than the fixed random centroids —
    and two trainings must be bit-identical (the exact-oracle
    contract)."""
    from gmql_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    rng = np.random.Generator(np.random.PCG64(5))
    centers = rng.standard_normal((4, 16)) * 4.0
    vecs = np.concatenate(
        [centers[i % 4] + rng.standard_normal(16) * 0.4 for i in range(240)]
    ).reshape(240, 16)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(240)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 12")

    cen_a = train_ivf_centroids(emb, n_cells=4, seed=3, n_iters=15)
    cen_b = train_ivf_centroids(emb, n_cells=4, seed=3, n_iters=15)
    assert cen_a.shape == (4, 16) and np.array_equal(cen_a, cen_b)

    brute = {(r.query_id, r.neighbor_id) for r in cosine_topk(q, emb, k=5).collect()}

    def recall(cen, n_probe=1):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(q, emb, cen, k=5, n_probe=n_probe).collect()
        }
        return len(brute & got) / len(brute)

    random_cen = rng.standard_normal((4, 16))
    r_trained, r_random = recall(cen_a), recall(random_cen)
    # trained cells align with the true clusters: 1-probe recall should
    # be (near-)perfect; random hyperplane-ish cells split clusters
    assert r_trained >= 0.9, (r_trained, r_random)
    assert r_trained >= r_random, (r_trained, r_random)


def test_dedup_components_transitive_chain(spark):
    """A~B, B~C, C~D (no direct A~D edge) must collapse into ONE
    component labeled min(id); isolated nodes stay singletons; a long
    chain still converges (diameter ~ rounds, localCheckpoint per
    round)."""
    from gmql_spark.operators.dedup import canonical_docs, dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "id_a long")
    got = {
        r.id: r.component
        for r in dedup_components(pairs, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}

    # 25-hop chain: converges within the round bound
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "id_a long, id_b long"
    )
    comp = dedup_components(chain, max_rounds=40)
    assert {r.component for r in comp.collect()} == {0}

    # canonical pick: longest text wins, ties broken by min id
    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the longest text of the cluster"),
            (3, "mid length"),
            (4, "tiny"),
            (10, "aaa"),
            (11, "bbbb"),
            (99, "solo"),
        ],
        "doc_id long, text string",
    )
    comps = dedup_components(pairs, nodes=nodes)
    canon = canonical_docs(docs, comps)
    keep = {r.doc_id for r in canon.filter("is_canonical").collect()}
    assert keep == {2, 11, 99}
    # every doc got a component and exactly one canonical per component
    per_comp = canon.groupBy("component").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n")
    )
    assert {r.n for r in per_comp.collect()} == {1}


def test_dedup_components_nodes_is_additive_not_universe(spark):
    """``nodes`` ADDS isolated ids — it must never act as a replacement
    universe: ids present only in the pair table stay labeled, and
    connectivity THROUGH them survives, even when the caller's nodes
    frame lists just the singletons (the documented usage)."""
    from gmql_spark.operators.dedup import dedup_components

    # 1-2-3 chained only through 2, which the nodes frame omits
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    singletons = spark.createDataFrame([(99,)], "id_a long")
    for method in ("label", "star"):
        got = {
            r.id: r.component
            for r in dedup_components(pairs, nodes=singletons, method=method).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 99: 99}, (method, got)


def test_dedup_components_nonconvergence_raises(spark):
    from gmql_spark.operators.dedup import dedup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(chain, max_rounds=3)


def test_ivf_table_centroids_equals_literal(spark):
    """The broadcast centroid-TABLE path must reproduce the literal
    mode's results (same argmax/tie semantics) at 256 cells, with a plan
    whose size does not grow with n_cells: broadcast HASH join on the
    constant key, no BroadcastNestedLoopJoin, no 256-literal-array
    codegen blob."""
    from gmql_spark.operators.similarity import centroids_to_table, ivf_topk

    rng = np.random.Generator(np.random.PCG64(31))
    vecs = rng.standard_normal((400, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 10")
    cen = rng.standard_normal((256, 16))

    lit_df = ivf_topk(q, emb, cen, k=5, n_probe=4)
    tab_df = ivf_topk(q, emb, centroids_to_table(spark, cen), k=5, n_probe=4)

    lit = {(r.query_id, r.neighbor_id, r.rank) for r in lit_df.collect()}
    tab = {(r.query_id, r.neighbor_id, r.rank) for r in tab_df.collect()}
    assert tab == lit

    plan_tab = tab_df._jdf.queryExecution().executedPlan().toString()
    plan_lit = lit_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan_tab
    assert "BroadcastHashJoin" in plan_tab
    # the literal plan embeds 256 centroid arrays; the table plan must
    # be dramatically smaller and stay flat as n_cells grows
    assert len(plan_tab) < len(plan_lit) / 3, (len(plan_tab), len(plan_lit))


def test_canonical_docs_agg_equals_window(spark):
    """The max_by-aggregate winner selection must match a reference
    per-component window rank (longest text, ties min id) on random
    data, including all-null order values and string ids (two-phase
    path)."""
    import random

    from pyspark.sql.window import Window

    from gmql_spark.operators.dedup import canonical_docs

    rng = random.Random(17)
    rows = [
        (i, "x" * rng.randint(0, 20), rng.randint(0, 30))
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, comp long")
    comps = docs.select(F.col("doc_id").alias("id"), F.col("comp").alias("component"))
    got = canonical_docs(docs.drop("comp"), comps)

    w = Window.partitionBy("component").orderBy(
        F.length("text").desc(), F.col("doc_id").asc()
    )
    exp = (
        docs.drop("comp")
        .join(comps.withColumnRenamed("id", "doc_id"), on="doc_id", how="left")
        .withColumn("component", F.coalesce(F.col("component"), F.col("doc_id")))
        .withColumn("is_canonical", F.row_number().over(w) == 1)
    )
    g = {(r.doc_id, r.component, r.is_canonical) for r in got.collect()}
    e = {(r.doc_id, r.component, r.is_canonical) for r in exp.collect()}
    assert g == e

    # string ids -> the two-phase tie-break path, same winners by min id
    sdocs = spark.createDataFrame(
        [(f"d{i:03d}", "y" * (i % 4)) for i in range(40)], "doc_id string, text string"
    )
    scomps = spark.createDataFrame(
        [(f"d{i:03d}", "c0") for i in range(40)], "id string, component string"
    )
    sgot = canonical_docs(sdocs, scomps)
    winners = [r.doc_id for r in sgot.filter("is_canonical").collect()]
    assert winners == ["d003"]  # longest text (3 chars), min id among ties


def test_canonical_docs_mega_component_skew(spark):
    """10^6 docs in ONE component: the aggregate path must finish with
    no single-partition sort (the old window would put all 10^6 rows in
    one sort partition) and pick the right winner."""
    from gmql_spark.operators.dedup import canonical_docs

    docs = (
        spark.range(1_000_000)
        .select(
            F.col("id").alias("doc_id"),
            F.repeat(F.lit("z"), (F.col("id") % 50).cast("int")).alias("text"),
        )
    )
    comps = docs.select(F.col("doc_id").alias("id"), F.lit(0).alias("component"))
    got = canonical_docs(docs, comps)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    win = got.filter("is_canonical").collect()
    # longest text = 49 repeats, min id with len 49 is doc 49
    assert [r.doc_id for r in win] == [49]
    assert got.count() == 1_000_000


def test_star_components_equal_label_propagation(spark):
    """large-star/small-star must produce identical (id, component=min)
    labels as min-label propagation on random graphs (with isolated
    nodes), while converging in O(log n) rounds."""
    import random

    from gmql_spark.operators.dedup import dedup_components

    rng = random.Random(23)
    ids = list(range(0, 400, 3))
    rng.shuffle(ids)
    pairs = []
    # random clusters of varying size + some chains
    i = 0
    while i + 1 < len(ids):
        size = rng.randint(1, 8)
        grp = ids[i : i + size]
        for x, y in zip(grp, grp[1:]):
            pairs.append((x, y) if rng.random() < 0.5 else (y, x))
        i += size
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in ids], "id_a long")

    lab = {
        (r.id, r.component)
        for r in dedup_components(edges, nodes=nodes, method="label").collect()
    }
    star = {
        (r.id, r.component)
        for r in dedup_components(edges, nodes=nodes, method="star").collect()
    }
    assert star == lab


def test_star_components_path_graph_beats_round_bound(spark):
    """A 120-node path has diameter 119: min-label cannot converge in 20
    rounds (raises loudly), the star alternation converges well inside
    it — the documented reason 'star' exists."""
    import pytest as _pytest

    from gmql_spark.operators.dedup import dedup_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(path, max_rounds=20, method="label")
    got = dedup_components(path, max_rounds=20, method="star")
    comps = {r.component for r in got.collect()}
    assert comps == {0} and got.count() == 120


def test_deterministic_split_and_sampling(spark):
    """Split properties a training pipeline depends on: exhaustive +
    non-overlapping assignment at roughly the requested proportions,
    bit-stable across row order/partitioning, nested sample subsets,
    and loud validation errors."""
    import pytest as _pytest

    from gmql_spark.operators.sampling import deterministic_split, sample_fraction

    docs = spark.range(20_000).select(F.col("id").alias("doc_id"))
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    out = deterministic_split(docs, w)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == set(w) and sum(counts.values()) == 20_000
    for name, frac in w.items():
        assert abs(counts[name] / 20_000 - frac) < 0.01, (name, counts)

    # stability: shuffled/partitioned input yields the identical map
    shuffled = docs.repartition(17).orderBy(F.rand(3))
    a = {(r.doc_id, r.split) for r in out.collect()}
    b = {(r.doc_id, r.split) for r in deterministic_split(shuffled, w).collect()}
    assert a == b

    # nested subsets at one seed
    s10 = {r.doc_id for r in sample_fraction(docs, 0.10).collect()}
    s01 = {r.doc_id for r in sample_fraction(docs, 0.01).collect()}
    assert s01 <= s10
    assert abs(len(s10) / 20_000 - 0.10) < 0.01
    assert abs(len(s01) / 20_000 - 0.01) < 0.005

    with _pytest.raises(ValueError, match="weights"):
        deterministic_split(docs, {})
    with _pytest.raises(ValueError, match="fraction"):
        sample_fraction(docs, 1.5)

    # GSL surface == direct calls
    from gmql_spark.plans.dsl import compile_script

    m = compile_script(
        spark,
        "S = SPLIT(train: 0.9, val: 0.05, test: 0.05, id: 'doc_id') D;"
        "P = SAMPLE(fraction: 0.01, id: 'doc_id') D;"
        "MATERIALIZE S; MATERIALIZE P;",
        tables={"D": docs},
    ).materialized
    assert {(r.doc_id, r.split) for r in m["S"].collect()} == a
    assert {r.doc_id for r in m["P"].collect()} == s01


def test_indexed_ivf_matches_direct_and_prunes(spark, tmp_path):
    """write_ivf_index + indexed_ivf_topk: identical results to the
    direct centroid-table path, and the index scan is pruned to the
    probed cells (PartitionFilters on the cell partition column)."""
    from gmql_spark.operators.similarity import (
        centroids_to_table,
        indexed_ivf_topk,
        ivf_topk,
        write_ivf_index,
    )

    rng = np.random.Generator(np.random.PCG64(13))
    vecs = rng.standard_normal((200, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id < 6")
    cen = centroids_to_table(spark, rng.standard_normal((12, 16)))

    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, cen, path)
    got = indexed_ivf_topk(spark, path, q, cen, k=4, n_probe=3)
    exp = ivf_topk(q, emb, cen, k=4, n_probe=3)

    def keyset(df):
        return {(r.query_id, r.neighbor_id, r.rank) for r in df.collect()}

    assert keyset(got) == keyset(exp) and len(keyset(got)) > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:300]


def test_write_ivf_index_refuses_duplicate_ids(spark, tmp_path):
    from gmql_spark.operators.similarity import centroids_to_table, write_ivf_index

    rng = np.random.Generator(np.random.PCG64(2))
    emb = spark.createDataFrame(
        [(i % 5, [float(x) for x in rng.standard_normal(8)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    cen = centroids_to_table(spark, rng.standard_normal((3, 8)))
    with pytest.raises(ValueError, match="not unique"):
        write_ivf_index(emb, cen, str(tmp_path / "idx"))
