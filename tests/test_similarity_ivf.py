

def test_ivf_index_batching_invariance_and_layout(spark, sf_dir, tmp_path):
    """Index built in 2 ingest batches must equal one built in a single
    batch (assignment is a pure function of (vector, codebook)), and
    each delta snapshot must be hive-partitioned by centroid_id."""
    import os

    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.operators.similarity import (
        ivf_index_ingest,
        ivf_index_read,
        ivf_index_search,
    )
    from ingestao_dados_poli_spark.queries import _CENTROIDS

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .filter(F.col("vec_id") < 120)
    )
    two, one = str(tmp_path / "two"), str(tmp_path / "one")
    ivf_index_ingest(spark, emb.filter("vec_id < 60"), _CENTROIDS, two, score_round=6)
    ivf_index_ingest(spark, emb.filter("vec_id >= 60"), _CENTROIDS, two, score_round=6)
    ivf_index_ingest(spark, emb, _CENTROIDS, one, score_round=6)
    a = ivf_index_read(spark, two).select("vec_id", "centroid_id")
    b = ivf_index_read(spark, one).select("vec_id", "centroid_id")
    assert sorted(a.collect()) == sorted(b.collect())
    # hive layout: centroid_id=K dirs inside each committed delta
    v1_dirs = os.listdir(f"{two}/v=1")
    assert any(d.startswith("centroid_id=") for d in v1_dirs)
    # search over the 2-batch index == search over the 1-batch index
    q = emb.filter("vec_id = 5").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    ra = ivf_index_search(spark, two, q, _CENTROIDS, k=4, nprobe=2, score_round=6)
    rb = ivf_index_search(spark, one, q, _CENTROIDS, k=4, nprobe=2, score_round=6)
    assert sorted(ra.collect()) == sorted(rb.collect())


def test_negative_samples_never_own_label_and_deterministic(spark):
    from ingestao_dados_poli_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], ["vec_id", "label"]
    )
    out = SIM.negative_samples(df, k=3, per_label=5).collect()
    assert len(out) == 40 * 3
    assert all(r.neg_label != r.anchor_label for r in out)
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    assert all(sorted(x.slot for x in v) == [1, 2, 3] for v in by_anchor.values())
    again = SIM.negative_samples(df, k=3, per_label=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_srp_reduce_exact_and_linear(spark):
    from pyspark.sql import functions as F

    from ingestao_dados_poli_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(0, [0.5] * 8), (1, [-0.5] * 8), (2, [0.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r.rv for r in SIM.srp_reduce(df, out_dims=4, in_dim=8).collect()}
    signs = SIM._srp_signs(4, 8)
    # quantize(0.5)=1500, quantize(-0.5)=500, quantize(0.0)=1000 exactly
    for vid, qval in ((0, 1500), (1, 500), (2, 1000)):
        assert rows[vid] == [qval * sum(r) for r in signs], vid
