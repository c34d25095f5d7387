"""r11 optimization pins: every wide expression rebuilt as a single
``F.expr`` SQL string (driver-side py4j cost cut) must produce values
IDENTICAL to its per-Column twin. These tests compare the two construction
paths row-for-row on real-ish data, so a drift in the SQL rendering (cast,
fold order, literal round-trip) fails loudly instead of surfacing as an
oracle-hash mismatch three layers up."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from custom_columnar_format_spark.functions import vector as V
from custom_columnar_format_spark.operators import dedup, kmeans, similarity

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "pack my box with five dozen liquor jugs before the storm arrives"),
    (2, "sphinx of black quartz judge my vow said the museum curator twice"),
    (3, "ab"),
    (4, "one two"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")


def _assert_cols_equal(df, a: F.Column, b: F.Column):
    bad = df.select(a.alias("a"), b.alias("b")).filter(
        ~F.col("a").eqNullSafe(F.col("b"))
    )
    assert bad.count() == 0


def test_lit_vector_bit_identical(spark):
    vals = [1e-05, -2.5e300, 3.141592653589793, -0.0, 5e-324, float(2**53 + 1), 0.1]
    df = spark.range(1).select(
        V.lit_vector(vals).alias("a"),
        F.array(*[F.lit(float(v)) for v in vals]).alias("b"),
    )
    r = df.collect()[0]
    assert [x.hex() for x in r["a"]] == [x.hex() for x in r["b"]]


def test_minhash_signature_string_vs_column(docs):
    base = dedup.shingle_table(docs, "text", "doc_id")
    _assert_cols_equal(
        base,
        dedup.minhash_signature("shingles"),
        dedup.minhash_signature(F.col("shingles")),
    )


def test_minhash_signature_km_string_vs_column(docs):
    hashed = dedup.km_hash_table(dedup.gram_table(docs, "text", "doc_id"))
    _assert_cols_equal(
        hashed,
        dedup.minhash_signature_km("h1", "h2"),
        dedup.minhash_signature_km(F.col("h1"), F.col("h2")),
    )


def test_lsh_signature_string_vs_column(vecs):
    planes = similarity._hyperplanes(16, 8, seed=3)
    _assert_cols_equal(
        vecs,
        similarity.signature_col("embedding", planes),
        similarity.signature_col(F.col("embedding"), planes),
    )


def test_kmeans_assign_expr_matches_per_column_argmin(vecs):
    cents = kmeans.seed_centroids(vecs, k=4)
    # the pre-r11 per-Column construction, reproduced inline
    structs = [
        F.struct(kmeans.sq_dist(F.col("embedding"), c).alias("d"), F.lit(cid).alias("cid"))
        for cid, c in enumerate(cents)
    ]
    old = F.array_min(F.array(*structs)).getField("cid").cast("int")
    _assert_cols_equal(vecs, kmeans.assign_expr(cents), old)


def test_dot_norm_cosine_sql_twins(vecs):
    q = [float(x) for x in np.random.RandomState(11).randn(16)]
    _assert_cols_equal(
        vecs,
        F.expr(V.dot_sql("embedding", V.vector_sql(q))),
        V.dot(F.col("embedding"), V.lit_vector(q)),
    )
    _assert_cols_equal(
        vecs, F.expr(V.norm_sql("embedding")), V.norm(F.col("embedding"))
    )
    _assert_cols_equal(
        vecs,
        F.expr(V.cosine_sql("embedding", V.vector_sql(q))),
        V.cosine(F.col("embedding"), V.lit_vector(q)),
    )


def test_band_table_matches_per_struct_construction(docs):
    """ADVICE r11: band_table's one-F.expr explode array had no direct twin
    pin. Reproduce the pre-r11 per-struct Python construction and compare
    full row sets."""
    sigs = dedup.minhash_signatures(docs, "text", "doc_id")
    nh, nb = dedup.DEFAULT_NUM_HASHES, dedup.DEFAULT_NUM_BANDS
    rpb = nh // nb
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.element_at(F.col("sig"), b * rpb + r + 1).cast("string")
                    for r in range(rpb)
                ],
            ).alias("band_hash"),
        )
        for b in range(nb)
    ]
    old = (
        sigs.select("id", F.explode(F.array(*structs)).alias("b"))
        .select(F.col("b.band").alias("band"), F.col("b.band_hash").alias("band_hash"), "id")
    )
    new = dedup.band_table(sigs, nh, nb)
    got = {tuple(r) for r in new.collect()}
    want = {tuple(r) for r in old.collect()}
    assert got == want and len(got) == len(DOCS) * nb


def test_simhash_table_matches_per_column_construction(docs):
    """ADVICE r11: simhash_table's single-F.expr agg list + bit-fold had no
    direct twin pin. Reproduce the per-Column aggregation and bit fold."""
    nbits = 60  # km-md5 scheme
    base = dedup.gram_table(docs, "text", "doc_id", 2)
    posts = base.select("id", F.explode("grams").alias("g")).select(
        "id", F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint").alias("h")
    )
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)).cast("int")).alias(f"c{b}")
        for b in range(nbits)
    ]
    counts = posts.groupBy("id").agg(*aggs)
    sim = F.lit(0).cast("bigint")
    for b in range(nbits):
        bit = F.when(F.col(f"c{b}") * 2 >= F.col("n"), 1).otherwise(0).cast("bigint")
        sim = sim.bitwiseOR(F.shiftleft(bit, b))
    old = counts.select("id", sim.alias("sim"))
    new = dedup.simhash_table(docs, "text", "doc_id")
    assert {tuple(r) for r in new.collect()} == {tuple(r) for r in old.collect()}


def test_ident_sql_quotes_hostile_names(spark):
    """ADVICE r11: the string-name fast paths must survive identifiers that
    would misparse bare (a dash reads as subtraction)."""
    df = spark.createDataFrame(
        [(0, [1.0] * 4), (1, [0.5, -1.0, 2.0, 0.25])],
        "vec_id: long, `my-vec`: array<double>",
    )
    planes = similarity._hyperplanes(4, 3, seed=5)
    _assert_cols_equal(
        df,
        similarity.signature_col("my-vec", planes),
        similarity.signature_col(F.col("my-vec"), planes),
    )


def test_ident_sql_parses_names_like_f_col():
    """``ident_sql`` splits a name where ``F.col`` does: dots separate
    nested fields, a backticked part stays one part (a doubled backtick is
    a literal one), and malformed names raise like Spark's parser."""
    assert V.ident_sql("emb") == "`emb`"
    assert V.ident_sql("features.emb") == "`features`.`emb`"
    assert V.ident_sql("my-vec") == "`my-vec`"
    assert V.ident_sql("my vec.x") == "`my vec`.`x`"
    assert V.ident_sql("`a.b`.c") == "`a.b`.`c`"
    assert V.ident_sql("`x``y`") == "`x``y`"
    for bad in ("a.", ".a", "a..b", "a`b", "`a`b", "`a"):
        with pytest.raises(ValueError):
            V.ident_sql(bad)


def test_qualified_names_reach_nested_fields(spark):
    """A qualified name on the SQL-string fast paths resolves the nested
    field, as ``F.col`` does: ``signature_col`` on a struct's array field
    and ``minhash_signature`` on a struct's shingle array, plus a
    backticked top-level name holding a dot."""
    rows = [(i, ([float(i), 1.0, -0.5, 2.0 - i],), [f"s{i}", "t", f"u{i % 3}"]) for i in range(6)]
    df = spark.createDataFrame(
        rows, "id: long, features: struct<emb: array<double>>, `a.b`: array<string>"
    ).select("id", "features", "`a.b`", F.struct(F.col("`a.b`").alias("sh")).alias("doc"))
    planes = similarity._hyperplanes(4, 3, seed=5)
    _assert_cols_equal(
        df,
        similarity.signature_col("features.emb", planes),
        similarity.signature_col(F.col("features.emb"), planes),
    )
    _assert_cols_equal(df, dedup.minhash_signature("doc.sh"), dedup.minhash_signature(F.col("doc.sh")))
    _assert_cols_equal(df, dedup.minhash_signature("`a.b`"), dedup.minhash_signature(F.col("`a.b`")))
