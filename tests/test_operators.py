"""Relational operator unit tests vs hand-computed expectations."""

from pyspark.sql import Row

from causalre_spark.config import PipelineConfig
from causalre_spark.operators import relations, spans


def _spans_df(spark, rows):
    return spark.createDataFrame(
        [Row(url=u, start=s, end=e, tag_score=float(ts), filter_score=float(fs))
         for (u, s, e, ts, fs) in rows],
        "url string, start int, end int, tag_score float, filter_score float",
    )


def test_topk_threshold_and_order(spark):
    cfg = PipelineConfig(max_top_k_spans=2, span_thd=0.0)
    df = _spans_df(spark, [
        ("u1", 0, 2, 1.0, 3.0),
        ("u1", 1, 3, 1.0, 5.0),
        ("u1", 4, 6, 1.0, 4.0),
        ("u1", 7, 8, 1.0, -1.0),   # below threshold
        ("u2", 0, 1, 1.0, 1.0),
    ])
    got = {(r.url, r.start, r.end) for r in spans.topk_spans(df, cfg).collect()}
    assert got == {("u1", 1, 3), ("u1", 4, 6), ("u2", 0, 1)}


def test_topk_tiebreak_deterministic(spark):
    cfg = PipelineConfig(max_top_k_spans=1)
    df = _spans_df(spark, [("u", 5, 6, 0.0, 2.0), ("u", 1, 2, 0.0, 2.0)])
    got = [(r.start, r.end) for r in spans.topk_spans(df, cfg).collect()]
    assert got == [(1, 2)]  # equal score -> smaller start wins


def test_nms_longer_span_preference(spark):
    cfg = PipelineConfig(overlap_thd=0.8)
    # same score: [0,10) vs [0,9) IoU=0.9 -> longer kept; [20,22) disjoint
    df = _spans_df(spark, [
        ("u", 0, 10, 0.0, 1.0),
        ("u", 0, 9, 0.0, 1.0),
        ("u", 20, 22, 0.0, 1.0),
    ])
    got = {(r.start, r.end) for r in spans.nms_spans(df, cfg).collect()}
    assert got == {(0, 10), (20, 22)}


def test_nms_low_overlap_survives(spark):
    cfg = PipelineConfig(overlap_thd=0.8)
    df = _spans_df(spark, [("u", 0, 10, 0.0, 2.0), ("u", 5, 15, 0.0, 1.0)])
    got = {(r.start, r.end) for r in spans.nms_spans(df, cfg).collect()}
    assert got == {(0, 10), (5, 15)}  # IoU = 5/15 < 0.8


def test_dedup_spans_max_score(spark):
    df = _spans_df(spark, [("u", 0, 2, 1.0, 3.0), ("u", 0, 2, 9.0, 1.0)])
    r = spans.dedup_spans_max_score(df).collect()[0]
    assert (r.tag_score, r.filter_score) == (9.0, 3.0)


def test_gen_pairs_no_diagonal(spark):
    df = _spans_df(spark, [("u", 0, 2, 0.0, 0.0), ("u", 3, 5, 0.0, 0.0),
                           ("v", 1, 2, 0.0, 0.0)])
    got = {(r.url, r.h_start, r.t_start) for r in relations.gen_pairs(df).collect()}
    assert got == {("u", 0, 3), ("u", 3, 0)}  # v has 1 span -> no pairs


def test_prune_hanging_rels(spark):
    rels = spark.createDataFrame(
        [("u", 0, 2, 3, 5, 1.0), ("u", 0, 2, 9, 11, 1.0)],
        "url string, h_start int, h_end int, t_start int, t_end int, rel_score float",
    )
    kept = _spans_df(spark, [("u", 0, 2, 0.0, 0.0), ("u", 3, 5, 0.0, 0.0)])
    got = [(r.t_start, r.t_end) for r in
           relations.prune_hanging_rels(rels, kept).collect()]
    assert got == [(3, 5)]


def test_span_text_slice(spark):
    docs = spark.createDataFrame(
        [("u", ["heavy", "rain", "caused", "floods"])], "url string, tokens array<string>")
    sp = _spans_df(spark, [("u", 0, 2, 0.0, 0.0)])
    assert spans.span_text(sp, docs).collect()[0]["text"] == "heavy rain"


def test_random_hyperplane_multiprobe_recall(spark):
    """Random-hyperplane LSH + multiprobe: probing Hamming-1 buckets
    never hurts and typically improves recall of the exact top-k vs a
    single-bucket probe; buckets are deterministic."""
    from causalre_spark.operators.similarity import (
        ann_topk_multiprobe,
        cosine_topk,
        random_hyperplane_buckets,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {r.vec_id for r in cosine_topk(emb, query_id=0, k=10).collect()}
    single = {r.vec_id for r in ann_topk_multiprobe(
        emb, query_id=0, k=10, n_planes=8, n_probes=0, dim=64).collect()}
    multi = {r.vec_id for r in ann_topk_multiprobe(
        emb, query_id=0, k=10, n_planes=8, n_probes=2, dim=64).collect()}
    assert len(multi & exact) >= len(single & exact)
    b1 = {(r.vec_id, r.bucket) for r in
          random_hyperplane_buckets(emb, 8, 64).collect()}
    b2 = {(r.vec_id, r.bucket) for r in
          random_hyperplane_buckets(emb, 8, 64).collect()}
    assert b1 == b2


def test_ivf_assignment_partitions_and_topk_subset(spark):
    """IVF: every vector lands in exactly one inverted list; the probed
    top-k is a subset of the probed lists and overlaps the exact top-k."""
    from causalre_spark.operators.similarity import (
        ann_topk_ivf,
        cosine_topk,
        ivf_assign,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    assign = ivf_assign(emb, n_centroids=8, dim=64)
    assert assign.count() == emb.count()                      # total
    assert assign.select("vec_id").distinct().count() == emb.count()  # one list each
    occupied = assign.select("centroid").distinct().count()
    assert 2 <= occupied <= 8                                 # non-degenerate
    exact = {r.vec_id for r in cosine_topk(emb, query_id=0, k=10).collect()}
    approx = ann_topk_ivf(emb, query_id=0, k=10, n_centroids=8,
                          n_probe=2, dim=64).collect()
    assert len(approx) == 10
    assert len({r.vec_id for r in approx} & exact) >= 1       # real overlap


def test_pq_assign_and_adc_match_numpy_twin(spark):
    """PQ codes and ADC distances must equal an independent NumPy
    reimplementation exactly (codes integer-exact; ADC at the 4dp
    rounding the operator publishes)."""
    import numpy as np

    from causalre_spark.operators.similarity import (
        ann_topk_pq,
        pq_assign,
        pq_codebook,
    )

    m, ksub, dim = 8, 8, 64
    dsub = dim // m
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    book = np.array(pq_codebook(m, ksub, dsub))  # (m, ksub, dsub)

    def twin_codes(v):
        out = []
        for s in range(m):
            sub = v[s * dsub:(s + 1) * dsub]
            d = ((sub[None, :] - book[s]) ** 2).sum(axis=1)
            out.append(int(np.argmin(d)))  # first-min, matches CASE order
        return out

    got = {r.vec_id: [r[f"code_{s}"] for s in range(m)]
           for r in pq_assign(emb, m, ksub, dim).collect()}
    for vid, v in rows.items():
        assert got[vid] == twin_codes(v), vid

    q = rows[0]
    dtable = np.array([[((q[s * dsub:(s + 1) * dsub] - book[s][c]) ** 2).sum()
                        for c in range(ksub)] for s in range(m)])
    twin = {vid: round(sum(dtable[s][c] for s, c in enumerate(twin_codes(v))), 4)
            for vid, v in rows.items() if vid != 0}
    topk = ann_topk_pq(emb, query_id=0, k=10, m=m, ksub=ksub, dim=dim).collect()
    expect = sorted(twin.items(), key=lambda kv: (kv[1], kv[0]))[:10]
    assert [(r.vec_id, r.adc_dist) for r in sorted(topk, key=lambda r: r.rank)] \
        == [(vid, d) for vid, d in expect]


def test_pq_topk_absent_query_is_empty(spark):
    """A query id that is not in the table yields no neighbours: an
    empty (id, adc_dist, rank) frame, not an IndexError."""
    from causalre_spark.operators.similarity import ann_topk_pq

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(16)]) for i in range(6)],
        "vec_id long, embedding array<float>")
    got = ann_topk_pq(emb, query_id=99, k=3, m=4, ksub=4, dim=16)
    assert got.columns == ["vec_id", "adc_dist", "rank"]
    assert dict(got.dtypes) == {"vec_id": "bigint", "adc_dist": "double",
                                "rank": "bigint"}
    assert got.collect() == []
    # and a present id still ranks the other rows
    assert len(ann_topk_pq(emb, query_id=0, k=3, m=4, ksub=4, dim=16).collect()) == 3
