"""SCBF v2 tests: nulls, dictionary encoding, int64/bool, stats, checksums,
footer layout, selective-read I/O proof, and Spark filter-pushdown skipping."""

import glob
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from custom_columnar_format_spark.scbf import codec_v2
from custom_columnar_format_spark.scbf.reader_api import SCBFReader
from custom_columnar_format_spark.sources.scbf_datasource import register


def _table():
    return pa.table(
        {
            "i32": pa.array([1, None, 3, 4], type=pa.int32()),
            "i64": pa.array([10**12, 2, None, 4], type=pa.int64()),
            "f": pa.array([1.5, None, float("nan"), 4.0], type=pa.float64()),
            "b": pa.array([True, False, None, True], type=pa.bool_()),
            "s": pa.array(["aa", None, "", "aa"], type=pa.string()),
            "hi_card": pa.array(["u1", "u2", "u3", "u4"], type=pa.string()),
        }
    )


def test_v2_roundtrip_with_nulls(tmp_path):
    p = str(tmp_path / "t2.scbf")
    codec_v2.write_arrow_table(p, _table())
    back = codec_v2.read_arrow_table(p)
    assert back.column("i32").to_pylist() == [1, None, 3, 4]
    assert back.column("i64").to_pylist() == [10**12, 2, None, 4]
    f_vals = back.column("f").to_pylist()
    assert f_vals[0] == 1.5 and f_vals[1] is None and np.isnan(f_vals[2]) and f_vals[3] == 4.0
    assert back.column("b").to_pylist() == [True, False, None, True]
    assert back.column("s").to_pylist() == ["aa", None, "", "aa"]


def test_v2_dictionary_encoding_applied(tmp_path):
    p = str(tmp_path / "d.scbf")
    repeated = pa.table({"s": pa.array(["x", "y", "x", "y", "x", "y", "x", "y"])})
    codec_v2.write_arrow_table(p, repeated)
    meta = codec_v2.read_meta(p)
    (cm,) = meta["columns"]
    assert cm["dict"] is True and "indices" in cm["blocks"]
    assert codec_v2.read_arrow_table(p).column("s").to_pylist() == ["x", "y"] * 4


def test_v2_stats_and_null_count(tmp_path):
    p = str(tmp_path / "s.scbf")
    codec_v2.write_arrow_table(p, _table())
    meta = codec_v2.read_meta(p)
    by = {c["name"]: c for c in meta["columns"]}
    assert by["i32"]["stats"] == {"min": 1, "max": 4} and by["i32"]["null_count"] == 1
    assert by["i64"]["stats"]["max"] == 10**12
    assert by["f"]["stats"] == {"min": 1.5, "max": 4.0}  # NaN excluded
    assert by["s"]["stats"] == {"min": "", "max": "aa"}


def test_v2_crc_detects_corruption(tmp_path):
    p = str(tmp_path / "c.scbf")
    codec_v2.write_arrow_table(p, _table())
    meta = codec_v2.read_meta(p)
    ref = meta["columns"][0]["blocks"]["data"]
    with open(p, "r+b") as f:
        f.seek(ref["offset"] + ref["comp"] // 2)
        f.write(b"\xff\xff")
    with pytest.raises(codec_v2.ScbfV2Error, match="crc32|corrupted"):
        codec_v2.read_arrow_table(p, ["i32"])
    # other columns still decode — corruption is isolated per block
    assert codec_v2.read_arrow_table(p, ["s"]).num_rows == 4


def test_v2_selective_read_never_touches_unread_blocks(tmp_path):
    """The I/O-skipping proof: corrupt every block of one column; selective
    reads of the OTHER columns still succeed (with CRC verification on), so
    the reader demonstrably never reads the unrequested column's bytes."""
    p = str(tmp_path / "io.scbf")
    codec_v2.write_arrow_table(p, _table())
    meta = codec_v2.read_meta(p)
    by = {c["name"]: c for c in meta["columns"]}
    with open(p, "r+b") as f:
        for ref in by["hi_card"]["blocks"].values():
            f.seek(ref["offset"])
            f.write(b"\x00" * ref["comp"])
    got = codec_v2.read_arrow_table(p, ["i32", "s"], verify_crc=True)
    assert got.column("i32").to_pylist() == [1, None, 3, 4]
    with pytest.raises(codec_v2.ScbfV2Error):
        codec_v2.read_arrow_table(p, ["hi_card"])


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def test_spark_v2_roundtrip_nulls_and_wide_types(spark, tmp_path):
    out = str(tmp_path / "sp2")
    df = spark.createDataFrame(
        [(1, 10**12, 1.5, True, "a"), (2, None, None, None, None), (3, 3, 3.0, False, "b")],
        "id int, big long, x double, flag boolean, s string",
    )
    df.write.format("scbf").option("version", "2").mode("overwrite").save(out)
    back = spark.read.format("scbf").load(out)
    assert back.schema["big"].dataType.simpleString() == "bigint"
    assert sorted(back.collect()) == sorted(df.collect())


def test_spark_v2_filter_pushdown_skips_files(spark, tmp_path):
    """Two v2 files with disjoint id ranges; corrupt the data blocks of the
    out-of-range file. A filtered query that only needs the other file must
    succeed — proof the stats pruned the corrupted file from the scan."""
    out = str(tmp_path / "skip")
    lo = spark.range(0, 100).select(F.col("id").cast("int").alias("id"))
    hi = spark.range(1000, 1100).select(F.col("id").cast("int").alias("id"))
    lo.coalesce(1).write.format("scbf").option("version", "2").mode("append").save(out)
    hi.coalesce(1).write.format("scbf").option("version", "2").mode("append").save(out)

    # find which file holds the hi range and corrupt its data block
    for fp in glob.glob(os.path.join(out, "part-*.scbf")):
        meta = codec_v2.read_meta(fp)
        (cm,) = meta["columns"]
        if cm["stats"]["min"] == 1000:
            ref = cm["blocks"]["data"]
            with open(fp, "r+b") as f:
                f.seek(ref["offset"])
                f.write(b"\x00" * ref["comp"])

    got = spark.read.format("scbf").load(out).filter(F.col("id") < 100)
    assert got.count() == 100  # corrupted file skipped via min/max stats
    with pytest.raises(Exception):
        spark.read.format("scbf").load(out).filter(F.col("id") >= 1000).count()


def test_spark_v2_empty_result_when_all_skipped(spark, tmp_path):
    out = str(tmp_path / "empty")
    spark.range(0, 10).select(F.col("id").cast("int").alias("id")).coalesce(1).write.format(
        "scbf"
    ).option("version", "2").mode("overwrite").save(out)
    got = spark.read.format("scbf").load(out).filter(F.col("id") > 999)
    assert got.count() == 0 and got.schema.fieldNames() == ["id"]


def test_utf8_stat_truncation_preserves_bounds(tmp_path):
    """A >64-char string max must not be understated by truncation — a plain
    prefix would let stats skipping drop files containing matching rows."""
    import pyarrow as pa

    p = str(tmp_path / "trunc.scbf")
    long_max = "b" * 100
    codec_v2.write_arrow_table(p, pa.table({"s": pa.array(["a", long_max])}))
    meta = codec_v2.read_meta(p)
    st = [c for c in meta["columns"] if c["name"] == "s"][0]["stats"]
    assert st["min"] == "a"
    assert st["max"] >= long_max  # upper bound holds despite truncation
    assert len(st["max"]) <= 64

    from pyspark.sql.datasource import EqualTo, GreaterThan

    # the file CONTAINS long_max — stats must not prove it absent
    assert codec_v2.file_may_match(meta, [EqualTo(("s",), long_max)])
    assert codec_v2.file_may_match(meta, [GreaterThan(("s",), "b" * 64)])
    # and still prunes what it can
    assert not codec_v2.file_may_match(meta, [GreaterThan(("s",), "z")])


def test_bloom_filter_roundtrip_and_membership(tmp_path):
    import pyarrow as pa

    from custom_columnar_format_spark.scbf import codec_v2

    path = str(tmp_path / "bloom.scbf")
    t = pa.table(
        {
            "id": pa.array([3, 17, 42, 99], type=pa.int64()),
            "name": pa.array(["alpha", "beta", "gamma", "delta"]),
            "score": pa.array([1.0, 2.0, 3.0, 4.0]),
        }
    )
    codec_v2.write_arrow_table(path, t, bloom_columns=["id", "name"])
    meta = codec_v2.read_meta(path)
    by_name = {c["name"]: c for c in meta["columns"]}
    assert "bloom" in by_name["id"] and "bloom" in by_name["name"]
    assert "bloom" not in by_name["score"]

    bl, tn = by_name["id"]["bloom"], "int64"
    assert all(codec_v2.bloom_contains(bl, v, tn) for v in (3, 17, 42, 99))
    # 1% target fpp: 200 absent probes should essentially all miss
    misses = sum(not codec_v2.bloom_contains(bl, v, tn) for v in range(1000, 1200))
    assert misses >= 190
    sbl = by_name["name"]["bloom"]
    assert codec_v2.bloom_contains(sbl, "alpha", "utf8")
    assert not codec_v2.bloom_contains(sbl, "omega", "utf8")
    # data blocks unaffected
    assert codec_v2.read_arrow_table(path).num_rows == 4


def test_bloom_skips_files_minmax_cannot(tmp_path):
    """Keys striped across files so every file spans the whole range —
    min/max stats prune nothing, the bloom filter prunes everything for an
    absent key and keeps exactly the one file holding a present key."""
    import glob as g

    import pyarrow as pa
    from pyspark.sql.datasource import EqualTo

    from custom_columnar_format_spark.scbf import codec_v2

    for fi in range(4):
        # file fi holds ids ≡ fi (mod 4), plus common endpoints 0 and 10000
        ids = [0, 10_000] + list(range(100 + fi, 900, 4))
        t = pa.table({"id": pa.array(ids, type=pa.int64())})
        codec_v2.write_arrow_table(str(tmp_path / f"part-{fi}.scbf"), t, bloom_columns=["id"])

    files = sorted(g.glob(str(tmp_path / "*.scbf")))
    metas = [codec_v2.read_meta(p) for p in files]
    present, absent = 101, 901  # 901 ≡ 1 mod 4 but range(101, 900, 4) tops out at 897

    alive_minmax_only = [
        m for m in metas
        if (lambda st: st["min"] <= absent <= st["max"])(m["columns"][0]["stats"])
    ]
    assert len(alive_minmax_only) == 4  # stats alone keep every file

    alive = [m for m in metas if codec_v2.file_may_match(m, [EqualTo(("id",), absent)])]
    assert len(alive) == 0  # bloom proves absence everywhere
    # present key: the holder MUST stay alive (no false negatives); other
    # files may rarely false-positive (~1% fpp), but never all of them
    holder = metas[(present - 100) % 4]
    assert codec_v2.file_may_match(holder, [EqualTo(("id",), present)])
    alive = [m for m in metas if codec_v2.file_may_match(m, [EqualTo(("id",), present)])]
    assert 1 <= len(alive) < 4


def test_bloom_never_false_negative_property(tmp_path):
    """Hypothesis: every written value is always may-contain (the correctness
    contract; false positives are allowed, false negatives never)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from custom_columnar_format_spark.scbf import codec_v2

    @settings(max_examples=25, deadline=None)
    @given(
        ints=st.sets(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=300),
        strs=st.sets(st.text(min_size=0, max_size=40), min_size=1, max_size=100),
    )
    def check(ints, strs):
        bi = codec_v2._bloom_of(list(ints), "int64")
        assert all(codec_v2.bloom_contains(bi, v, "int64") for v in ints)
        bs = codec_v2._bloom_of(list(strs), "utf8")
        assert all(codec_v2.bloom_contains(bs, s, "utf8") for s in strs)

    check()


@pytest.mark.parametrize("codec", ["zlib", "bz2", "lzma", "none"])
def test_block_codecs_roundtrip(tmp_path, codec):
    p = str(tmp_path / f"c_{codec}.scbf")
    codec_v2.write_arrow_table(p, _table(), codec=codec)
    meta = codec_v2.read_meta(p)
    assert meta.get("codec", "zlib") == codec
    back = codec_v2.read_arrow_table(p)
    assert back.column("i32").to_pylist() == [1, None, 3, 4]
    assert back.column("s").to_pylist() == ["aa", None, "", "aa"]


def test_codec_none_blocks_are_raw_and_crc_guarded(tmp_path):
    p = str(tmp_path / "raw.scbf")
    codec_v2.write_arrow_table(p, _table(), codec="none")
    meta = codec_v2.read_meta(p)
    ref = [c for c in meta["columns"] if c["name"] == "i32"][0]["blocks"]["data"]
    assert ref["comp"] == ref["uncomp"]  # stored uncompressed
    with open(p, "r+b") as f:
        f.seek(ref["offset"])
        f.write(b"\xff\xff")
    with pytest.raises(codec_v2.ScbfV2Error, match="crc32"):
        codec_v2.read_arrow_table(p, ["i32"])


def test_spark_codec_option_roundtrip(spark, tmp_path):
    out = str(tmp_path / "sp_lzma")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    df.write.format("scbf").option("version", "2").option("codec", "lzma").mode(
        "overwrite"
    ).save(out)
    import glob as g

    meta = codec_v2.read_meta(g.glob(os.path.join(out, "*.scbf"))[0])
    assert meta["codec"] == "lzma"
    assert sorted(spark.read.format("scbf").load(out).collect()) == sorted(df.collect())
    with pytest.raises(Exception, match="zlib-only|version"):
        df.write.format("scbf").option("codec", "lzma").mode("overwrite").save(out + "2")


def test_v2_random_table_roundtrip_property(tmp_path):
    """Hypothesis: any table over the five v2 types, with any null pattern
    (incl. all-null and empty columns), round-trips value-identically —
    dictionary and plain utf8 encodings both exercised by the generator."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    opt = st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31 - 1))
    opt64 = st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1))
    optf = st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=True))
    optb = st.one_of(st.none(), st.booleans())
    # low-cardinality alphabet → dictionary path; full text → plain path
    opts_dict = st.one_of(st.none(), st.sampled_from(["x", "y", "z"]))
    opts_plain = st.one_of(st.none(), st.text(max_size=20))

    @settings(max_examples=20, deadline=None)
    @given(
        data=st.lists(
            st.tuples(opt, opt64, optf, optb, opts_dict, opts_plain), min_size=0, max_size=50
        )
    )
    def check(data):
        t = pa.table(
            {
                "i32": pa.array([r[0] for r in data], type=pa.int32()),
                "i64": pa.array([r[1] for r in data], type=pa.int64()),
                "f": pa.array([r[2] for r in data], type=pa.float64()),
                "b": pa.array([r[3] for r in data], type=pa.bool_()),
                "sd": pa.array([r[4] for r in data], type=pa.string()),
                "sp": pa.array([r[5] for r in data], type=pa.string()),
            }
        )
        p = str(tmp_path / "prop.scbf")
        codec_v2.write_arrow_table(p, t)
        back = codec_v2.read_arrow_table(p)
        assert back.to_pylist() == t.to_pylist()
        # grouped layout round-trips identically (incl. per-group nullability
        # divergence — group schemas unify to the file-level flags)
        codec_v2.write_arrow_table(p, t, rows_per_group=7)
        assert codec_v2.read_arrow_table(p).to_pylist() == t.to_pylist()

    check()


def test_v2_truncated_and_garbage_files_fail_loudly(tmp_path):
    """Corruption never yields silent wrong data: truncations at every
    region and random garbage all raise, none return rows."""
    p = str(tmp_path / "whole.scbf")
    codec_v2.write_arrow_table(p, _table())
    blob = open(p, "rb").read()

    for cut in (0, 4, 8, len(blob) // 2, len(blob) - 17, len(blob) - 1):
        q = str(tmp_path / f"cut_{cut}.scbf")
        open(q, "wb").write(blob[:cut])
        with pytest.raises(Exception):
            codec_v2.read_arrow_table(q)

    g = str(tmp_path / "garbage.scbf")
    open(g, "wb").write(b"\x99" * 256)
    with pytest.raises(Exception):
        codec_v2.read_arrow_table(g)


# ---------------------------------------------------------------------------
# Intra-file row groups
# ---------------------------------------------------------------------------


def _grouped_table(n=1000):
    return pa.table(
        {
            "id": pa.array(range(n), type=pa.int64()),
            "name": pa.array([f"name_{i % 7}" for i in range(n)]),
            "score": pa.array(
                [float(i) if i % 5 else None for i in range(n)], type=pa.float64()
            ),
        }
    )


def test_row_groups_off_is_byte_identical(tmp_path):
    """rows_per_group=None (and any value >= num_rows) writes the original
    single-group layout byte for byte — small files pay nothing."""
    t = _grouped_table()
    a, b, c = (str(tmp_path / x) for x in ("a.scbf", "b.scbf", "c.scbf"))
    codec_v2.write_arrow_table(a, t)
    codec_v2.write_arrow_table(b, t, rows_per_group=10**6)
    codec_v2.write_arrow_table(c, t, rows_per_group=t.num_rows)
    raw = open(a, "rb").read()
    assert open(b, "rb").read() == raw and open(c, "rb").read() == raw
    assert "row_groups" not in codec_v2.read_meta(a)


def test_row_groups_roundtrip_stats_and_blooms(tmp_path):
    """Grouped write round-trips (values, nulls, dict strings), footer keeps
    per-group AND merged file-level stats, and projection still prunes."""
    t = _grouped_table()
    p = str(tmp_path / "g.scbf")
    codec_v2.write_arrow_table(p, t, rows_per_group=128, bloom_columns=["name"])
    meta = codec_v2.read_meta(p)
    groups = meta["row_groups"]
    assert [g["rows"] for g in groups] == [128] * 7 + [104]
    # per-group stats are tight ranges; merged file-level stats span them
    g0_id = groups[0]["columns"][0]
    assert g0_id["name"] == "id" and g0_id["stats"] == {"min": 0, "max": 127}
    by = {c["name"]: c for c in meta["columns"]}
    assert by["id"]["stats"] == {"min": 0, "max": 999}
    assert by["score"]["null_count"] == sum(g["columns"][2]["null_count"] for g in groups)
    assert all("bloom" in g["columns"][1] for g in groups)

    assert codec_v2.read_arrow_table(p).to_pydict() == t.to_pydict()
    sel = codec_v2.read_arrow_table(p, ["score", "id"])
    assert sel.column_names == ["score", "id"] and sel.num_rows == 1000


def test_row_group_skipping_proven_by_corruption(tmp_path):
    """The Parquet-row-group-pruning proof, one level down from the file
    test: corrupt every block of all groups but the one holding id=5; a
    filtered read (CRC verification ON) succeeds and returns exactly that
    group, so the reader demonstrably never touched the other groups'
    bytes. The unfiltered read fails on the corruption."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    t = _grouped_table()
    p = str(tmp_path / "skip.scbf")
    codec_v2.write_arrow_table(p, t, rows_per_group=128)
    meta = codec_v2.read_meta(p)
    with open(p, "r+b") as f:
        for g in meta["row_groups"][1:]:
            for cm in g["columns"]:
                for ref in cm["blocks"].values():
                    f.seek(ref["offset"])
                    f.write(b"\x00" * ref["comp"])

    with SCBFReader(p) as r:
        got = r.to_arrow(filters=[EqualTo(("id",), 5)])
        # all-groups-skipped: empty table, schema intact, no blocks touched
        none = r.to_arrow(filters=[GreaterThan(("id",), 10**6)])
    assert got.column("id").to_pylist() == list(range(128))
    with pytest.raises(codec_v2.ScbfV2Error):
        codec_v2.read_arrow_table(p)
    assert none.num_rows == 0 and none.column_names == ["id", "name", "score"]
    # file_may_match consults per-group stats (file matches iff any group may)
    assert codec_v2.file_may_match(meta, [EqualTo(("id",), 5)])
    assert not codec_v2.file_may_match(meta, [GreaterThan(("id",), 10**6)])


def test_spark_row_group_pruning_end_to_end(spark, tmp_path):
    """DSv2 integration: one large sorted file written with rows_per_group;
    corrupt the tail groups; a pushed id filter still answers (group pruning
    skipped the corrupted bytes) while an unfiltered scan fails."""
    out = str(tmp_path / "rg")
    (
        spark.range(30000)
        .select(
            F.col("id").cast("long").alias("id"),
            F.concat(F.lit("v"), (F.col("id") % 9).cast("string")).alias("v"),
        )
        .coalesce(1)
        .sort("id")
        .write.format("scbf")
        .option("version", "2")
        .option("rows_per_group", "4096")
        .mode("overwrite")
        .save(out)
    )
    fp = glob.glob(os.path.join(out, "*.scbf"))[0]
    meta = codec_v2.read_meta(fp)
    assert len(meta["row_groups"]) == 8
    with open(fp, "r+b") as f:
        for g in meta["row_groups"][2:]:
            for cm in g["columns"]:
                for ref in cm["blocks"].values():
                    f.seek(ref["offset"])
                    f.write(b"\x00" * ref["comp"])

    got = spark.read.format("scbf").load(out).filter(F.col("id") < 1000)
    assert got.count() == 1000
    assert got.agg(F.sum("id")).first()[0] == 999 * 1000 // 2
    with pytest.raises(Exception):
        spark.read.format("scbf").load(out).count()


def test_row_group_splits_scan_one_file_in_parallel(spark, tmp_path):
    """Row groups are SPLIT points: above the split_bytes threshold a single
    grouped file plans one input partition per group (intra-file read
    parallelism — the Parquet split model), values identical to the unsplit
    read; pushed filters drop non-matching groups at planning time, proven
    by corrupting their bytes."""
    out = str(tmp_path / "split")
    (
        spark.range(50000)
        .select(F.col("id").cast("long").alias("id"), (F.col("id") % 7).cast("int").alias("k"))
        .coalesce(1)
        .sortWithinPartitions("id")
        .write.format("scbf")
        .option("version", "2")
        .option("rows_per_group", "8192")
        .mode("overwrite")
        .save(out)
    )
    df = spark.read.format("scbf").option("split_bytes", "1024").load(out)
    assert df.rdd.getNumPartitions() == 7  # ceil(50000/8192)
    assert df.count() == 50000
    assert df.agg(F.sum("id")).first()[0] == 49999 * 50000 // 2
    # below the threshold: whole file = one partition, no footer read at plan
    assert spark.read.format("scbf").load(out).rdd.getNumPartitions() == 1

    # corrupt every group except the first; a planned filter must produce
    # only the surviving group's split and never touch corrupted bytes
    fp = glob.glob(os.path.join(out, "*.scbf"))[0]
    meta = codec_v2.read_meta(fp)
    with open(fp, "r+b") as f:
        for g in meta["row_groups"][1:]:
            for cm in g["columns"]:
                for ref in cm["blocks"].values():
                    f.seek(ref["offset"])
                    f.write(b"\x00" * ref["comp"])
    got = (
        spark.read.format("scbf")
        .option("split_bytes", "1024")
        .load(out)
        .filter(F.col("id") < 8000)
    )
    assert got.rdd.getNumPartitions() == 1  # one surviving group-split
    assert got.count() == 8000


def test_row_group_splits_with_hive_partitions_and_columnless_count(spark, tmp_path):
    """Splits compose with hive partitioning, and a projection that needs no
    file columns (partition value + count) gets each split's OWN row count —
    not the whole file's."""
    out = str(tmp_path / "split_pt")
    (
        spark.range(20000)
        .select(
            F.col("id").cast("long").alias("id"),
            (F.col("id") % 2).cast("int").alias("pk"),
        )
        .repartition("pk")
        .write.format("scbf")
        .option("version", "2")
        .option("rows_per_group", "2048")
        .option("partition_by", "pk")
        .mode("overwrite")
        .save(out)
    )
    df = spark.read.format("scbf").option("split_bytes", "1024").load(out)
    assert df.rdd.getNumPartitions() == 10  # 2 dirs x ceil(10000/2048)
    assert df.count() == 20000
    per = {r["pk"]: r["n"] for r in df.groupBy("pk").agg(F.count("*").alias("n")).collect()}
    assert per == {0: 10000, 1: 10000}


def test_dvs_recorded_for_low_ndv_only(tmp_path):
    """utf8 columns with <= DVS_MAX distinct short values record the exact
    value set; high-NDV and long-valued columns do not."""
    p = str(tmp_path / "dvs.scbf")
    t = pa.table(
        {
            "cat": pa.array(["red", "blue", "red", None, "green"] * 20),
            "uid": pa.array([f"user_{i:05d}" for i in range(100)]),
            "long": pa.array((["x" * 200] * 100)),
        }
    )
    codec_v2.write_arrow_table(p, t)
    meta = codec_v2.read_meta(p)
    by = {c["name"]: c for c in meta["columns"]}
    assert by["cat"]["dvs"] == ["blue", "green", "red"]  # sorted, nulls excluded
    assert "dvs" not in by["uid"]  # 100 distinct > DVS_MAX
    assert "dvs" not in by["long"]  # value longer than MAX_STAT_STR


def test_dvs_prunes_group_minmax_cannot(tmp_path):
    """A probe INSIDE a group's [min, max] range but absent from its distinct
    set: min/max keeps the group, the dvs proves it away. Skip is proven by
    corrupting the pruned group's data bytes — the filtered read must still
    succeed (blocks never touched)."""
    from pyspark.sql.datasource import EqualTo

    p = str(tmp_path / "dvs_groups.scbf")
    # group 0: alpha..delta (range spans 'beta'); group 1: actually has beta
    g0 = ["alpha", "delta"] * 50
    g1 = ["beta", "zeta"] * 50
    t = pa.table({"cat": pa.array(g0 + g1), "v": pa.array(list(range(200)), type=pa.int64())})
    codec_v2.write_arrow_table(p, t, rows_per_group=100)
    meta = codec_v2.read_meta(p)
    gcols = [dict((c["name"], c) for c in g["columns"]) for g in meta["row_groups"]]
    assert gcols[0]["cat"]["dvs"] == ["alpha", "delta"]
    # sanity: the probe is inside group 0's min/max range
    assert gcols[0]["cat"]["stats"]["min"] < "beta" < gcols[0]["cat"]["stats"]["max"]
    assert not codec_v2._stats_may_match(
        meta["row_groups"][0]["columns"], 100, [EqualTo(("cat",), "beta")]
    )
    # corrupt group 0's data region; the pruned read must never touch it
    refs = [codec_v2.BlockRef.from_json(b) for b in gcols[0]["cat"]["blocks"].values()]
    with open(p, "r+b") as f:
        for r in refs:
            f.seek(r.offset)
            f.write(b"\xff" * min(8, r.comp))
    with SCBFReader(p) as h:
        got = h.to_arrow(filters=[EqualTo(("cat",), "beta")])
    assert got.num_rows == 100 and set(got.column("cat").to_pylist()) == {"beta", "zeta"}


def test_dvs_exact_where_bloom_false_positive(tmp_path):
    """Hunt a Bloom false positive among absent probes: the probabilistic
    filter says may-contain, the exact distinct-value set still prunes."""
    from pyspark.sql.datasource import EqualTo

    p = str(tmp_path / "dvs_vs_bloom.scbf")
    t = pa.table({"cat": pa.array(["only_a", "only_b"] * 50)})
    codec_v2.write_arrow_table(p, t, bloom_columns=["cat"])
    meta = codec_v2.read_meta(p)
    cm = meta["columns"][0]
    fp = next(
        (
            f"probe_{i}"
            for i in range(200_000)
            if codec_v2.bloom_contains(cm["bloom"], f"probe_{i}", "utf8")
        ),
        None,
    )
    if fp is None:
        pytest.skip("no bloom false positive found in 200k probes (tiny filter)")
    # bloom alone would keep the file; dvs proves it away
    assert not codec_v2._stats_may_match(meta["columns"], 100, [EqualTo(("cat",), fp)])


def test_dvs_in_filter_and_merged_file_level(tmp_path):
    """IN pruning via dvs, and the merged file-level entry carries the union
    of per-group sets."""
    from pyspark.sql.datasource import In

    p = str(tmp_path / "dvs_in.scbf")
    t = pa.table({"cat": pa.array(["aa", "bb"] * 50 + ["cc", "dd"] * 50)})
    codec_v2.write_arrow_table(p, t, rows_per_group=100)
    meta = codec_v2.read_meta(p)
    assert meta["columns"][0]["dvs"] == ["aa", "bb", "cc", "dd"]  # file-level union
    assert not codec_v2.file_may_match(meta, [In(("cat",), ("xx", "yy"))])
    assert codec_v2.file_may_match(meta, [In(("cat",), ("xx", "cc"))])
    # mixed-type probe list must NOT prune (unpushable shape, stay safe)
    assert codec_v2.file_may_match(meta, [In(("cat",), (b"zz", 5))])
