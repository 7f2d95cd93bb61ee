"""SemDeDup semantic dedup (operators/similarity.semdedup_survivors):
keep-farthest-from-centroid policy, epsilon-ball pruning confinement to
clusters, and the no-Window plan shape."""

from posextract_spark.operators.similarity import semdedup_survivors

# fixed quantizer for hand-computable assignments: unit axes
CENTS = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_semdedup_keeps_farthest_from_centroid(spark):
    # ids 10/11 are near-dups in cluster 0 (cos ~0.975); 11 sits farther
    # from the centroid (lower csim) so it ranks first and 10 drops
    df = _emb(
        spark,
        [
            (10, [1.0, 0.02]),
            (11, [1.0, 0.25]),
            (12, [0.1, 1.0]),
        ],
    )
    out = {r.vec_id: r for r in semdedup_survivors(df, centroids=CENTS).collect()}
    assert sorted(out) == [11, 12]
    assert out[11].centroid_id == 0
    assert out[12].centroid_id == 1


def test_semdedup_identical_vectors_id_tiebreak(spark):
    df = _emb(spark, [(5, [0.6, 0.1]), (9, [0.6, 0.1])])
    kept = sorted(r.vec_id for r in semdedup_survivors(df, centroids=CENTS).collect())
    assert kept == [5]  # equal csim -> smaller id ranks first, 9 drops


def test_semdedup_cross_cluster_dups_not_pruned(spark):
    # identical vectors forced into different clusters never see each
    # other (the confinement that makes the quadratic tractable); the
    # 45-degree vector ties both centroids -> smallest cid wins (c0)
    df = _emb(spark, [(3, [1.0, 1.0]), (4, [0.9, 1.0])])
    out = {r.vec_id: r.centroid_id for r in semdedup_survivors(df, centroids=CENTS).collect()}
    assert out == {3: 0, 4: 1}


def test_semdedup_threshold_inclusive_boundary(spark):
    # orthogonal vectors in one cluster: sim_e6 = 0 -> only a
    # threshold <= 0 prunes
    df = _emb(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    one_cluster = [(0, [1.0, 1.0])]
    assert semdedup_survivors(df, centroids=one_cluster, threshold_e6=1).count() == 2
    assert semdedup_survivors(df, centroids=one_cluster, threshold_e6=0).count() == 1


def test_semdedup_plan_has_no_window(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        semdedup_survivors(emb, centroids=CENTS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan


def test_semdedup_against_base_flags_and_passes(spark):
    from posextract_spark.operators.similarity import semdedup_against_base

    base = _emb(spark, [(0, [1.0, 0.05]), (2, [0.0, 1.0])])
    new = _emb(
        spark,
        [
            (1, [1.0, 0.06]),   # near-dup of base 0 (same cluster 0)
            (3, [0.05, 1.0]),   # near-dup of base 2 (cluster 1)
            (5, [-1.0, 0.9]),   # cluster 1 but dissimilar to base 2
        ],
    )
    out = {
        r.vec_id: r
        for r in semdedup_against_base(new, base, centroids=CENTS).collect()
    }
    assert out[1].is_new == 0 and out[1].matched_base_id == 0
    assert out[3].is_new == 0 and out[3].matched_base_id == 2
    assert out[5].is_new == 1 and out[5].matched_base_id == -1
    assert out[1].n_base_hits == 1


def test_semdedup_against_base_never_drops_new_rows(spark):
    from posextract_spark.operators.similarity import semdedup_against_base

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    new = emb.filter("vec_id % 2 = 1")
    out = semdedup_against_base(new, emb.filter("vec_id % 2 = 0"), threshold_e6=400000)
    assert out.count() == new.count()  # row-preserving report


def test_semdedup_quality_floor_on_planted_corpus(spark):
    """Pytest floor for SEMDEDUP_QUALITY.md: on a 400-vector planted
    corpus, pruning is PERFECT-precision (no distractor ever pruned) and
    finds >= 70% of the 0.97-cosine planted pairs at the production
    threshold (ceiling = cluster splits, measured in the full harness)."""
    from tools.semdedup_quality import evaluate, planted_corpus

    rows, truth = planted_corpus(400, 60)
    r = evaluate(spark, rows, truth, k=32, threshold_e6=950000)
    assert r["precision"] == 1.0
    assert r["recall_by_tier"]["0.97"] >= 0.7, r
    assert r["keep_violations"] == 0
    # the 0.90/0.80 tiers sit BELOW the 0.95 threshold: never pruned
    assert r["recall_by_tier"]["0.9"] == 0.0
    assert r["recall_by_tier"]["0.8"] == 0.0
