"""Round-3 scale-path tests: hyperplane banded LSH cross-engine parity and
the broadcast-numpy IVF paths (assignment + probing) against the
plan-expression paths they replace past IVF_EXPR_MAX_LISTS."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from geotiff_tiler_spark.operators import similarity

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_hyperplane_buckets_cross_engine_parity(spark):
    """The (band, bucket) table the Spark pandas UDF produces must equal
    the DuckDB list_sum twin EXACTLY — guaranteed by the integer-exact
    quantized projection (floor(v * HP_QUANT) then +-1 integer sums)."""
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    bits = similarity.adaptive_sign_bits(emb.count())
    got = {
        (r.vec_id, r.band, r.bucket)
        for r in similarity._band_explode(emb, "embedding", bits, 4)
        .select("vec_id", "band", "bucket")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF01}/embeddings.parquet'"
    )
    want = {
        tuple(r)
        for r in con.execute(
            similarity.band_buckets_union_sql("vec_id", "embedding", "embeddings", bits)
        ).fetchall()
    }
    con.close()
    assert got == want and len(got) == 4 * emb.count()


def test_adaptive_bits_web_scale_uncapped():
    """10^12-doc corpora need 32 bits; the hyperplane scheme provides them
    (the old coordinate scheme capped at 16 = quadratic growth past ~17M)."""
    assert similarity.adaptive_sign_bits(10**12) == 32
    assert similarity.adaptive_sign_bits(256 * 2**42 * 4) == 42  # hi clamp
    assert similarity.adaptive_sign_bits(100) == 4  # lo floor


def test_hyperplane_signs_deterministic_and_balanced():
    a = similarity.hyperplane_signs(4, 8)
    b = similarity.hyperplane_signs(4, 8)
    assert a == b and len(a) == 32 and all(len(r) == similarity.EMB_DIM for r in a)
    # prefix property: band b's rows don't depend on the total band count
    assert similarity.hyperplane_signs(2, 8) == a[:16]
    flat = np.asarray(a)
    assert set(np.unique(flat)) == {-1, 1}
    # roughly balanced signs (md5 bits): no hyperplane is constant
    assert (np.abs(flat.sum(axis=1)) < similarity.EMB_DIM).all()


def test_neardup_banded_recovers_known_pair(spark):
    """The one true cosine>=0.5 pair at sf0.01 must survive the blocking at
    the near-dup default band count (NEARDUP_BANDS=8; 4 bands miss it —
    the recall-vs-cost tradeoff documented on NEARDUP_BANDS)."""
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.neardup_pairs_banded(emb, threshold=0.5).collect()
    }
    assert (169, 466) in pairs


def test_ivf_assign_udf_path_matches_expression_path(spark):
    """Past IVF_EXPR_MAX_LISTS the assignment runs as a broadcast-numpy
    pandas UDF; on the same centroids it must agree with the plan-literal
    expression path (ties are measure-zero in this data, so exact
    agreement is required, not just recall parity)."""
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    cent = similarity.train_ivf_centroids(emb, n_clusters=16)
    expr = {
        (r.vec_id, r.ivf_cluster)
        for r in similarity.ivf_assign(emb, cent).select("vec_id", "ivf_cluster").collect()
    }
    udf = {
        (r.vec_id, r.ivf_cluster)
        for r in emb.withColumn(
            "ivf_cluster", similarity._centroid_argmin_udf(cent)(F.col("embedding"))
        )
        .select("vec_id", "ivf_cluster")
        .collect()
    }
    assert expr == udf


def test_ivf_topk_udf_path_matches_expression_path(spark, monkeypatch):
    """Full ivf_topk with the UDF paths forced (IVF_EXPR_MAX_LISTS=0) must
    reproduce the expression-path result row-for-row."""
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    want = sorted(
        map(tuple, similarity.ivf_topk(emb, k=5, query_mod=25, n_clusters=8, nprobe=3).collect())
    )
    monkeypatch.setattr(similarity, "IVF_EXPR_MAX_LISTS", 0)
    got = sorted(
        map(tuple, similarity.ivf_topk(emb, k=5, query_mod=25, n_clusters=8, nprobe=3).collect())
    )
    assert got == want


def test_kmeans_fit_unchanged_by_chunking():
    """Chunking must not move the centroids at all (the q36 oracle replays
    kmeans_fit, so any drift would break the contract)."""
    rng = np.random.default_rng(42)
    X = rng.normal(size=(512, 64))
    c1 = similarity.kmeans_fit(X.copy(), n_clusters=8)
    c2 = similarity.kmeans_fit(X.copy(), n_clusters=8)
    assert (c1 == c2).all()


def test_label_polygons_repair_is_noop_on_valid_layer(spark):
    """F2 load wiring: the synthetic layer is valid, so repair must keep
    every feature and every bbox."""
    from geotiff_tiler_spark.sources import labels

    raw = labels.label_polygons(spark, n=60, repair=False).collect()
    rep = labels.label_polygons(spark, n=60, repair=True).collect()
    assert len(raw) == len(rep) == 60
    want = {r.feature_id: (r.xmin, r.ymin, r.xmax, r.ymax) for r in raw}
    got = {r.feature_id: (r.xmin, r.ymin, r.xmax, r.ymax) for r in rep}
    assert got == want


def test_label_polygon_edges_match_wkb_roundtrip():
    """The q39 oracle's edge table must walk the same closed-ring point
    pairs the numpy kernel sees after the WKB roundtrip."""
    from geotiff_tiler_spark.operators import strtree as st
    from geotiff_tiler_spark.sources import labels

    edges = labels.label_polygon_edges(n=8)
    by_fid: dict[int, set] = {}
    for fid, cls, pi, x1, y1, x2, y2 in edges:
        by_fid.setdefault(fid, set()).add((pi, x1, y1, x2, y2))
    for fid, cls, polys in labels.label_polygon_geoms(n=8):
        if len(polys) == 1:
            wkb = st.wkb_polygon(polys[0])
        else:
            wkb = st.wkb_multipolygon(polys)
        want = set()
        for pi, rings in enumerate(st.parse_wkb(bytes(wkb))):
            for r in rings:
                for a, b in zip(r[:-1], r[1:]):
                    want.add((pi, float(a[0]), float(a[1]), float(b[0]), float(b[1])))
        assert by_fid[fid] == want, fid


def test_nearest_centroids_matches_argsort_oracle():
    """The selection kernel must agree with a naive full-argsort oracle on
    both regimes (<=64 lists: stable argsort; >64: argpartition+lexsort),
    for p=1 and p>1 — and on a duplicated centroid, whose bit-equal d2
    column must lose to the first index exactly as in the oracle."""
    rng = np.random.default_rng(3)
    X = rng.normal(size=(333, 16))
    C8 = rng.normal(size=(8, 16))
    C200 = rng.normal(size=(200, 16))
    for C in (C8, C200, np.vstack([C8, C8[:1]])):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        for p in (1, 3):
            want = np.argsort(d2, axis=1, kind="stable")[:, :p]
            got = similarity._nearest_centroids(X, C, p=p, chunk=100)
            assert (got == want).all(), (len(C), p)


def test_cosine_topk_scan_matches_allpairs_bitexact(spark):
    """r6 q16 rewrite: the mapInArrow scan (BLAS prune + exact-fold
    re-score + margin-superset candidates) must reproduce the pure-SQL
    broadcast-nested-loop plan BIT-FOR-BIT — ranks, ids, and every
    rounded cosine double — on real data and on a tie-heavy synthetic
    (exact duplicates, scaled copies, zero vectors: maximal rounded-tie
    pressure on the margin logic)."""
    import struct

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    new = sorted(tuple(r) for r in similarity.cosine_topk(emb, k=5, query_mod=25).collect())
    old = sorted(
        tuple(r) for r in similarity.cosine_topk_allpairs(emb, k=5, query_mod=25).collect()
    )
    assert len(new) == len(old) and len(new) > 0
    for x, y in zip(new, old):
        assert x[:3] == y[:3]
        assert struct.pack("d", x[3]) == struct.pack("d", y[3])

    rng = np.random.RandomState(7)
    base = rng.randn(40, 64).astype(np.float32)
    rows = [(i, [float(x) for x in base[i % 40]]) for i in range(300)]
    rows += [(i, [0.0] * 64) for i in range(300, 310)]
    rows += [(i, [float(x * 2.0) for x in base[i % 40]]) for i in range(310, 390)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(7)
    new = sorted(tuple(r) for r in similarity.cosine_topk(df, k=5, query_mod=25).collect())
    old = sorted(
        tuple(r) for r in similarity.cosine_topk_allpairs(df, k=5, query_mod=25).collect()
    )
    assert len(new) == len(old) and len(new) > 0
    for x, y in zip(new, old):
        assert x[:3] == y[:3]
        assert struct.pack("d", x[3]) == struct.pack("d", y[3])


def test_cosine_pair_arrow_kernel_matches_prenormed_fold(spark):
    """r6 q17/q33 scoring swap: the Arrow pair kernel must produce the
    same rounded cosine doubles as the interpreted prenormed fold on a
    joined pair frame (incl. zero-norm rows)."""
    import struct

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"),
                   similarity._norm(F.col("embedding")).alias("na"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"),
                   similarity._norm(F.col("embedding")).alias("nb"))
    pairs = a.crossJoin(b).filter((F.col("ida") % 37 == 0) & (F.col("idb") % 11 == 0))
    zero = spark.createDataFrame(
        [(10_001, [0.0] * 64, 0.0)], "ida long, va array<float>, na double"
    )
    pairs = pairs.unionByName(
        zero.crossJoin(b.limit(3))
    )
    old = {
        (r.ida, r.idb): r.cosine
        for r in similarity._with_cosine_prenormed(pairs, "va", "vb", "na", "nb").collect()
    }
    new = {
        (r.ida, r.idb): r.cosine
        for r in similarity._with_cosine_arrow(pairs, "va", "vb").collect()
    }
    assert old.keys() == new.keys() and len(old) > 50
    for kk in old:
        assert struct.pack("d", old[kk]) == struct.pack("d", new[kk]), kk


def test_vec_matrix_rejects_null_and_ragged_vectors():
    """The one Arrow -> numpy vector path: exact float32 -> float64
    widening, slice offsets honored, and a ValueError naming the column
    for every input that flattening alone would reshape into a wrong
    matrix (64 x 64 with one null vector used to come back as (64, 63))."""
    import pyarrow as pa

    f32 = pa.list_(pa.float32())
    rows = [[float(v) for v in np.random.default_rng(i).normal(size=64)] for i in range(64)]
    good = pa.array(rows, f32)
    X = similarity._vec_matrix(good, "embedding")
    assert X.shape == (64, 64) and X.dtype == np.float64
    assert (X == np.asarray(rows, dtype=np.float32).astype(np.float64)).all()
    assert (similarity._vec_matrix(good.slice(10, 5), "embedding") == X[10:15]).all()
    assert similarity._vec_matrix(good.slice(0, 0), "embedding", 64).shape == (0, 64)

    with pytest.raises(ValueError, match="'embedding': 1 null vector"):
        similarity._vec_matrix(pa.array(rows[:5] + [None] + rows[6:], f32), "embedding")
    with pytest.raises(ValueError, match="'embedding': 1 null element"):
        similarity._vec_matrix(pa.array(rows[:1] + [rows[1][:-1] + [None]] + rows[2:], f32), "embedding")
    # 63 + 65 values: the flat length still divides by 64, so a reshape
    # alone would succeed
    ragged = rows[:10] + [rows[10][:63], rows[11] + [0.5]] + rows[12:]
    with pytest.raises(ValueError, match="'embedding': ragged vectors, lengths 63..65"):
        similarity._vec_matrix(pa.array(ragged, f32), "embedding")
    with pytest.raises(ValueError, match="ragged vectors.*expected 32"):
        similarity._vec_matrix(good, "embedding", 32)


# One call per vector-search entry point, on a vector column named "feat"
# so the error text must carry the caller's column name.
_VECTOR_OPS = {
    "q16_cosine_topk": lambda df: similarity.cosine_topk(df, k=5, vec_col="feat"),
    "q17_ann_topk_banded": lambda df: similarity.ann_topk_banded(df, k=5, vec_col="feat"),
    "q33_neardup_pairs_banded": lambda df: similarity.neardup_pairs_banded(df, vec_col="feat"),
    "q36_ivf_topk_expr": lambda df: similarity.ivf_topk(df, k=5, n_clusters=8, vec_col="feat"),
    "q36_ivf_topk_udf": lambda df: similarity.ivf_topk(df, k=5, n_clusters=8, vec_col="feat"),
    "q44_pq_topk": lambda df: similarity.pq_topk(df, k=5, vec_col="feat"),
}


@pytest.mark.parametrize("op", sorted(_VECTOR_OPS))
def test_vector_ops_reject_null_vectors_and_pass_empty_input(spark, monkeypatch, op):
    """A null embedding fails loudly with the vector column's name (no
    silently wrong neighbours); an empty input gives zero rows."""
    if op.endswith("_udf"):
        monkeypatch.setattr(similarity, "IVF_EXPR_MAX_LISTS", 0)
    rng = np.random.default_rng(5)
    rows = [(i, [float(v) for v in rng.normal(size=64)]) for i in range(200)]
    rows[7] = (7, None)  # not a query row (query_mod 25): the corpus side must catch it
    df = spark.createDataFrame(rows, "vec_id long, feat array<float>")
    with pytest.raises(Exception, match="vector column 'feat': 1 null vector"):
        _VECTOR_OPS[op](df).collect()
    assert _VECTOR_OPS[op](df.limit(0)).collect() == []
