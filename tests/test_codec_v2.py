"""SCBF v2 tests: nulls, dictionary encoding, int64/bool, stats, checksums,
footer layout, selective-read I/O proof, and Spark filter-pushdown skipping."""

import collections
import glob
import math
import os
import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
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
    """Row groups are SPLIT points: a grouped file bigger than its share of
    the scan's bytes plans one unit per group, packed into
    ``defaultParallelism`` input partitions (intra-file read parallelism —
    the Parquet split model), values identical to the unsplit read; pushed
    filters drop non-matching groups at planning time, proven by corrupting
    their bytes."""
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
    df = spark.read.format("scbf").load(out)
    # ceil(50000/8192) = 7 group units packed into local[4]'s parallelism
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 50000
    assert df.agg(F.sum("id")).first()[0] == 49999 * 50000 // 2

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
    got = spark.read.format("scbf").load(out).filter(F.col("id") < 8000)
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
    df = spark.read.format("scbf").load(out)
    # 2 dirs x ceil(10000/2048) = 10 group units packed into local[4]'s parallelism
    assert df.rdd.getNumPartitions() == 4
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


# ---------------------------------------------------------------------------
# Lightweight encodings, the mix64 Bloom hash and the features guard
# ---------------------------------------------------------------------------

INT_BOUNDS = {"int32": (-(2**31), 2**31 - 1), "int64": (-(2**63), 2**63 - 1)}
#: every codec a round trip must survive; lzma behaves like bz2 here
ROUNDTRIP_CODECS = ("zlib", "bz2", "none")
#: block roles a reader from before encodings decodes as plain values
PLAIN_ROLES = {"data", "indices", "offsets", "blob", "dict_offsets", "dict_blob", "validity"}


def _bits(col):
    """(validity, valid values) of an Arrow column, floats by bit pattern, so
    NaN payloads and -0.0 must survive exactly."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    nn = col.drop_null()
    if pa.types.is_floating(col.type):
        vals = np.asarray(nn, dtype="<f8").view("<u8").tolist()
    else:
        vals = nn.to_pylist()
    return np.asarray(col.is_valid()).tolist(), vals


def _roundtrip(tmp_path, table, group_rows=codec_v2.ENC_MIN_ROWS) -> dict:
    """Write ``table`` under every codec, ungrouped and in groups of
    ``group_rows`` rows, and check each read returns bit-identical values
    and validity. Returns the footers, keyed by (codec, grouped)."""
    metas = {}
    for codec in ROUNDTRIP_CODECS:
        for grouped in (False, True):
            p = str(tmp_path / f"rt_{codec}_{grouped}.scbf")
            rpg = group_rows if grouped else None
            codec_v2.write_arrow_table(p, table, codec=codec, rows_per_group=rpg)
            back = codec_v2.read_arrow_table(p)
            for name in table.column_names:
                assert _bits(back.column(name)) == _bits(table.column(name)), (codec, grouped, name)
            metas[codec, grouped] = codec_v2.read_meta(p)
    return metas


def _picked(meta: dict, name: str) -> list:
    """Per block set, the (kind, width) of column ``name``'s data or index
    block — ("dec", exp, int kind, width) for a decimal float block — or
    None when it is plain; checks the role matches."""
    out = []
    for g in meta.get("row_groups") or [meta]:
        cm = next(c for c in g["columns"] if c["name"] == name)
        ((role, ref),) = [
            (r, ref) for r, ref in cm["blocks"].items()
            if r in ("data", "data_enc", "indices", "indices_enc")
        ]
        enc = ref.get("enc")
        assert role.endswith("_enc") == (enc is not None), (role, enc)
        if enc is not None and enc["kind"] == "dec":
            out.append(("dec", enc["exp"], enc["int"], enc["width"]))
        else:
            out.append(None if enc is None else (enc["kind"], enc["width"]))
    return out


def _group_slices(values: list, grouped: bool) -> list:
    if not grouped or len(values) <= codec_v2.ENC_MIN_ROWS:
        return [values]
    n = codec_v2.ENC_MIN_ROWS
    return [values[i : i + n] for i in range(0, len(values), n)]


def _int_rule(vals: list, itemsize: int):
    """The int rule in Python ints (no wrapping): the expected (kind, width)
    of a block holding ``vals`` (nulls already filled with 0)."""
    if len(vals) < codec_v2.ENC_MIN_ROWS:
        return None
    if all(a <= b for a, b in zip(vals, vals[1:])):
        kind, span = "delta", max((b - a for a, b in zip(vals, vals[1:])), default=0)
    else:
        kind, span = "for", max(vals) - min(vals)
    width = next(w for w in (1, 2, 4, 8) if span < 256**w)
    return ("shuffle", itemsize) if width == itemsize else (kind, width)


def _dec_rule(vals: list):
    """The decimal rule in Python floats and ints: ("dec", exp, int kind,
    width) when the smallest exponent that holds for the strided sample
    holds bit for bit for every value (through an int, so -0.0 fails) with
    scaled magnitudes below 2**53, and the int rule narrows the scaled
    values; else None."""

    def scaled(xs, exp):
        ks = []
        for x in xs:
            y = x * 10**exp
            if not math.isfinite(y) or abs(round(y)) >= 2**53:
                return None
            k = round(y)
            if struct.pack("<d", k / 10**exp) != struct.pack("<d", x):
                return None
            ks.append(k)
        return ks

    sample = vals[:: max(1, len(vals) // 1024)][:1024]
    exp = next((e for e in range(codec_v2.DEC_MAX_EXP + 1) if scaled(sample, e) is not None), None)
    ks = None if exp is None else scaled(vals, exp)
    if ks is None:
        return None
    kind, width = _int_rule(ks, 8)
    return None if width == 8 else ("dec", exp, kind, width)


def _float_rule(vals: list):
    """The float rule: the decimal rule, else shuffle iff a strided sample
    of at most 1024 values compresses smaller shuffled than plain at zlib
    level 1."""
    import zlib

    if len(vals) < codec_v2.ENC_MIN_ROWS:
        return None
    dec = _dec_rule(vals)
    if dec is not None:
        return dec
    a = np.asarray(vals, dtype="<f8")
    sample = np.ascontiguousarray(a[:: max(1, a.size // 1024)][:1024])
    shuffled = sample.view("u1").reshape(-1, 8).T.tobytes()
    if len(zlib.compress(shuffled, 1)) < len(zlib.compress(sample.tobytes(), 1)):
        return ("shuffle", 8)
    return None


@st.composite
def _int_blocks(draw):
    type_name = draw(st.sampled_from(sorted(INT_BOUNDS)))
    lo, hi = INT_BOUNDS[type_name]
    shape = draw(st.sampled_from(["random", "narrow", "sorted", "reverse", "constant", "extremes"]))
    n = draw(
        st.one_of(
            st.sampled_from([0, 1, codec_v2.ENC_MIN_ROWS - 1, codec_v2.ENC_MIN_ROWS]),
            st.integers(0, 3 * codec_v2.ENC_MIN_ROWS),
        )
    )
    if shape == "constant":
        vals = [draw(st.integers(lo, hi))] * n
    elif shape == "narrow":
        span = min(hi - lo, draw(st.sampled_from([255, 256, 65535, 65536, 2**32])))
        base = draw(st.integers(lo, hi - span))
        vals = draw(st.lists(st.integers(base, base + span), min_size=n, max_size=n))
    else:
        vals = draw(st.lists(st.integers(lo, hi), min_size=n, max_size=n))
    if shape == "extremes" and n >= 2:
        i, j = draw(st.lists(st.integers(0, n - 1), min_size=2, max_size=2, unique=True))
        vals[i], vals[j] = hi, lo
    if shape in ("sorted", "reverse"):
        vals.sort(reverse=shape == "reverse")
    nulls = draw(st.lists(st.booleans(), min_size=n, max_size=n)) if draw(st.booleans()) else [False] * n
    return type_name, [None if z else v for v, z in zip(vals, nulls)]


def test_int_encodings_roundtrip_property(tmp_path):
    """Hypothesis: int32/int64 blocks — random, narrow ranges, sorted,
    reverse-sorted, constant, INT_MIN and INT_MAX together, 0 and 1 rows,
    with and without nulls — round-trip bit-identically under every codec,
    grouped and not, and each block picks the encoding the rule names."""

    @settings(max_examples=60, deadline=None)
    @given(block=_int_blocks())
    def check(block):
        type_name, vals = block
        t = pa.table({"v": pa.array(vals, type=getattr(pa, type_name)())})
        metas = _roundtrip(tmp_path, t)
        filled = [0 if v is None else v for v in vals]
        itemsize = 4 if type_name == "int32" else 8
        for (codec, grouped), meta in metas.items():
            want = [_int_rule(s, itemsize) for s in _group_slices(filled, grouped)]
            assert _picked(meta, "v") == want, (codec, grouped)

    check()


def test_int_encodings_pick_each_kind(tmp_path):
    """Each named case picks its encoding (a silent fall-back to plain or to
    shuffle fails), including sorted int32 whose running delta sum wraps
    past INT_MAX."""
    lo32 = -(2**31)
    wrap = [lo32 + 61_000 * i for i in range(70_000)]  # spans ~2**32 in u2 steps
    cases = {
        "constant": (pa.int32(), [7] * 300, ("delta", 1)),
        "sorted": (pa.int64(), list(range(-150, 150)), ("delta", 1)),
        "reverse": (pa.int32(), list(range(300, 0, -1)), ("for", 2)),
        "narrow": (pa.int32(), [(i * 37) % 1000 for i in range(300)], ("for", 2)),
        "extremes": (pa.int32(), [2**31 - 1, -(2**31)] * 150, ("shuffle", 4)),
        "extremes64": (pa.int64(), [2**63 - 1, -(2**63), 0] * 100, ("shuffle", 8)),
        "wrap": (pa.int32(), wrap, ("delta", 2)),
        "one_row": (pa.int32(), [5], None),
        "empty": (pa.int64(), [], None),
    }
    for name, (typ, vals, want) in cases.items():
        t = pa.table({"v": pa.array(vals, type=typ)})
        meta = _roundtrip(tmp_path, t)["zlib", False]
        assert _picked(meta, "v") == [want], name
        assert ("features" in meta) == (want is not None), name


def _nan(payload: int, negative: bool) -> float:
    return struct.unpack("<d", struct.pack("<Q", (negative << 63) | 0x7FF0_0000_0000_0000 | payload))[0]


@st.composite
def _float_blocks(draw):
    nans = st.builds(_nan, st.integers(1, 2**52 - 1), st.booleans())
    special = st.one_of(
        st.sampled_from([float("nan"), -0.0, 0.0, float("inf"), float("-inf"), 1.5, 5e-324, -2.2e-308]),
        nans,
    )
    shape = draw(st.sampled_from(["any", "special", "integral", "decimal", "near_limit", "mixed", "sorted"]))
    n = draw(st.one_of(st.sampled_from([0, 1, codec_v2.ENC_MIN_ROWS]), st.integers(0, 600)))
    exp = draw(st.integers(0, codec_v2.DEC_MAX_EXP))
    if shape == "special":
        elems = special
    elif shape == "integral":
        elems = st.integers(1, 50).map(float)
    elif shape in ("decimal", "mixed", "sorted"):
        span = draw(st.sampled_from([100, 2**16, 2**31, 2**40, 2**53 - 1]))
        elems = st.integers(-span, span).map(lambda k: k / 10**exp)
    elif shape == "near_limit":  # magnitudes near 2**53 / 10**exp
        elems = st.integers(2**53 - 300, 2**53 + 300).map(lambda k: k / 10**exp)
    else:
        elems = st.one_of(st.floats(allow_nan=True, allow_infinity=True, allow_subnormal=True), special)
    vals = draw(st.lists(elems, min_size=n, max_size=n))
    if shape == "sorted":
        vals.sort()
    if shape == "mixed" and n:  # one value that is not a short decimal
        vals[draw(st.integers(0, n - 1))] = draw(st.one_of(special, st.floats(allow_nan=False)))
    nulls = draw(st.lists(st.booleans(), min_size=n, max_size=n)) if draw(st.booleans()) else [False] * n
    return [None if z else v for v, z in zip(vals, nulls)]


def test_float_encodings_roundtrip_property(tmp_path):
    """Hypothesis: float64 blocks — decimals with 0 to 8 places, magnitudes
    near 2**53 / 10**exp, sorted decimals, decimals with one value that is
    not, NaN (any payload), -0.0, ±inf, subnormals, with and without nulls
    — round-trip bit-identically under every codec, grouped and not, and
    each block picks the encoding the Python rules name: (dec, exp, int
    kind, width), shuffle or plain."""

    @settings(max_examples=80, deadline=None)
    @given(vals=_float_blocks())
    def check(vals):
        t = pa.table({"f": pa.array(vals, type=pa.float64())})
        metas = _roundtrip(tmp_path, t)
        filled = [0.0 if v is None else v for v in vals]
        for (codec, grouped), meta in metas.items():
            want = [_float_rule(s) for s in _group_slices(filled, grouped)]
            assert _picked(meta, "f") == want, (codec, grouped)
            assert ("dec" in meta.get("features", ())) == any(w and w[0] == "dec" for w in want)

    check()


def test_float_shuffle_chosen_per_block(tmp_path):
    """Among floats that are not short decimals, a narrow exponent range
    (unrounded prices) shuffles and thirds stay plain — in one grouped
    file, so the choice is made per block, not per column."""
    rng = np.random.default_rng(7)
    price = rng.uniform(900.0, 105_000.0, 4096)
    thirds = rng.integers(1, 51, 4096) / 3
    t = pa.table({"f": pa.array(np.concatenate([price, thirds]))})
    p = str(tmp_path / "f.scbf")
    codec_v2.write_arrow_table(p, t, rows_per_group=4096)
    assert _picked(codec_v2.read_meta(p), "f") == [("shuffle", 8), None]
    assert codec_v2.read_arrow_table(p).column("f").to_pylist() == t.column("f").to_pylist()


def test_decimal_floats_pick_dec_per_block(tmp_path):
    """Each named block picks its encoding: short decimals become scaled
    integers through the int rule (frame of reference or deltas, at the
    narrowest width), and every block that is not exactly such a decimal —
    -0.0, NaN, inf, a magnitude at 2**53, a ninth decimal place, a value
    off the sample's stride, a span that needs 8 bytes — falls back to the
    shuffle-or-plain rule, unnoticed by the values read back."""
    rng = np.random.default_rng(1)
    n = 4096
    qty = rng.integers(1, 51, n).astype(np.float64)
    off_stride = np.round(rng.uniform(0, 100, n), 2)
    off_stride[5] = 1 / 3  # the sample takes every 4th value
    cases = {
        "qty": (qty, ("dec", 0, "for", 1)),
        "price": (np.round(rng.uniform(900.0, 105_000.0, n), 2), ("dec", 2, "for", 4)),
        "discount": (rng.integers(0, 11, n) / 100, ("dec", 2, "for", 1)),
        "sorted": (np.sort(np.round(rng.uniform(0, 10, n), 3)), ("dec", 3, "delta", 1)),
        "eighth": (rng.integers(-500, 500, n) / 10**8, ("dec", 8, "for", 2)),
        # None: not a decimal block, so shuffled or plain as the sample says
        "ninth": (rng.integers(1, 500, n) / 10**9, None),
        "neg_zero": (np.where(np.arange(n) == 8, -0.0, qty), None),
        "nan": (np.where(np.arange(n) == 8, np.nan, qty), None),
        "inf": (np.where(np.arange(n) == 8, np.inf, qty), None),
        "below_limit": (2.0**53 - 2 * qty, ("dec", 0, "for", 1)),
        "limit": (2.0**53 + 2 * qty, None),
        "off_stride": (off_stride, None),
        "wide_span": (np.where(np.arange(n) % 2 == 0, 0.0, 2.0**40 + qty), None),
    }
    for name, (vals, want) in cases.items():
        rule = _float_rule(vals.tolist())
        if want is None:
            assert rule is None or rule[0] == "shuffle", name
            want = rule
        assert rule == want, name  # the Python rule agrees
        t = pa.table({"f": pa.array(vals)})
        meta = _roundtrip(tmp_path, t, group_rows=n)["zlib", False]
        assert _picked(meta, "f") == [want], name
        assert ("dec" in meta.get("features", ())) == (want is not None and want[0] == "dec"), name
    # one grouped file: the first and third blocks are decimals, the middle one is not
    mixed = np.concatenate([qty, rng.standard_normal(n), cases["price"][0]])
    p = str(tmp_path / "mixed.scbf")
    codec_v2.write_arrow_table(p, pa.table({"f": pa.array(mixed)}), rows_per_group=n)
    assert _picked(codec_v2.read_meta(p), "f") == [("dec", 0, "for", 1), ("shuffle", 8), ("dec", 2, "for", 4)]
    assert _bits(codec_v2.read_arrow_table(p).column("f")) == _bits(pa.array(mixed))


@pytest.mark.parametrize("entries", [255, 256, 257, 65535, 65536, 65537])
def test_dictionary_index_widths(tmp_path, entries):
    """Dictionaries of exactly 255/256/257 and 65 535/65 536/65 537 entries
    (nulls stored as the "" entry; four rows per word, shuffled): indices
    narrow to the width of the dictionary size and round-trip; sorted
    indices pick deltas."""
    rng = np.random.default_rng(entries)
    words = [f"w{i:06d}" for i in range(entries - 1)]
    vals = np.array(words * 4 + [None] * 50, dtype=object)[rng.permutation(4 * len(words) + 50)]
    t = pa.table({"s": pa.array(vals.tolist(), type=pa.string())})
    # groups of half the rows: each still dictionary-encodes
    metas = _roundtrip(tmp_path, t, group_rows=t.num_rows // 2 + 1)
    width = next(w for w in (1, 2, 4) if entries - 1 < 256**w)
    want = ("shuffle", 4) if width == 4 else ("for", width)
    for codec in ROUNDTRIP_CODECS:
        (cm,) = metas[codec, False]["columns"]
        assert cm["dict"] is True and cm["blocks"]["dict_offsets"]["uncomp"] // 4 - 1 == entries
        assert _picked(metas[codec, False], "s") == [want]
    if entries == 256:
        p = str(tmp_path / "sorted.scbf")
        codec_v2.write_arrow_table(p, pa.table({"s": pa.array(sorted(words * 4))}))
        assert _picked(codec_v2.read_meta(p), "s") == [("delta", 1)]
        assert codec_v2.read_arrow_table(p).column("s").to_pylist() == sorted(words * 4)


def _compat_table():
    """The table ``tests/data/v2_pre_encoding_grouped.scbf`` holds: written by
    the codec before encodings and the mix64 hash existed (groups of 128
    rows, Bloom filters on ``id`` and ``name``)."""
    n = 300
    return pa.table(
        {
            "id": pa.array([None if i % 17 == 0 else i * 7 - 1000 for i in range(n)], type=pa.int64()),
            "k": pa.array([(i * 37) % 101 - 50 for i in range(n)], type=pa.int32()),
            "score": pa.array([None if i % 5 == 0 else i / 4 for i in range(n)], type=pa.float64()),
            "flag": pa.array([None if i % 13 == 0 else i % 2 == 0 for i in range(n)], type=pa.bool_()),
            "cat": pa.array([None if i % 11 == 0 else ("red", "green", "blue")[i % 3] for i in range(n)]),
            "name": pa.array([f"name_{i}" for i in range(n)]),
        }
    )


COMPAT_FILE = os.path.join(os.path.dirname(__file__), "data", "v2_pre_encoding_grouped.scbf")


def test_pre_encoding_file_reads_and_prunes(tmp_path):
    """A grouped file from the codec before encodings (plain blocks, blake2b
    filters under ``bloom``, no ``features``) reads value-identically and
    its filters still prune absent ids and names."""
    from pyspark.sql.datasource import EqualTo, In

    meta = codec_v2.read_meta(COMPAT_FILE)
    assert "features" not in meta and len(meta["row_groups"]) == 3
    want = _compat_table()
    back = codec_v2.read_arrow_table(COMPAT_FILE)
    for name in want.column_names:
        assert _bits(back.column(name)) == _bits(want.column(name)), name
    assert meta["row_groups"][0]["columns"][4]["dict"] is True

    ids = set(want.column("id").to_pylist()) - {None}
    for g in meta["row_groups"]:
        cols = {c["name"]: c for c in g["columns"]}
        assert "h" not in cols["id"]["bloom"] and "bloom_mix64" not in cols["id"]
        lo, hi = cols["id"]["stats"]["min"], cols["id"]["stats"]["max"]
        present = [v for v in ids if lo <= v <= hi]
        absent = [v for v in range(lo, hi) if v not in ids]  # inside min/max
        assert all(codec_v2._stats_may_match(g["columns"], g["rows"], [EqualTo(("id",), v)]) for v in present)
        pruned = sum(not codec_v2._stats_may_match(g["columns"], g["rows"], [EqualTo(("id",), v)]) for v in absent)
        assert pruned >= 0.9 * len(absent)
        assert not codec_v2._stats_may_match(g["columns"], g["rows"], [In(("name",), ("name_2000",))])
    with SCBFReader(COMPAT_FILE) as r:
        got = r.to_arrow(filters=[EqualTo(("id",), 50)])  # row 150, group 1
    assert got.num_rows == 128 and 50 in got.column("id").to_pylist()


def _lcg(i: int) -> int:
    return (i * 6364136223846793005 + 1442695040888963407) % 2**64 >> 20


def _enc_compat_table():
    """The table ``tests/data/v2_enc_grouped.scbf`` holds: written by the
    codec with int encodings and mix64 filters but before decimal floats
    (``rows_per_group=256``, Bloom filters on ``id`` and ``name``)."""
    n = 768
    return pa.table(
        {
            "id": pa.array([1000 + 3 * i for i in range(n)], type=pa.int64()),
            "k": pa.array([None if i % 19 == 0 else (i * 37) % 1000 - 500 for i in range(n)], type=pa.int32()),
            "wide": pa.array([(i * 0x9E3779B97F4A7C15) % 2**64 - 2**63 for i in range(n)], type=pa.int64()),
            "qty": pa.array([None if i % 11 == 0 else float(i * 7 % 50 + 1) for i in range(n)], type=pa.float64()),
            "price": pa.array(
                [None if i % 29 == 0 else round(900 + (_lcg(i) % 10_410_000) / 100, 2) for i in range(n)],
                type=pa.float64(),
            ),
            "noise": pa.array([math.sin(i) * 1000 for i in range(n)], type=pa.float64()),
            "flag": pa.array([None if i % 13 == 0 else i % 3 == 0 for i in range(n)], type=pa.bool_()),
            "cat": pa.array([None if i % 7 == 0 else ("red", "green", "blue", "teal")[i % 4] for i in range(n)]),
            "name": pa.array([f"name_{i}" for i in range(n)]),
        }
    )


ENC_COMPAT_FILE = os.path.join(os.path.dirname(__file__), "data", "v2_enc_grouped.scbf")


def test_enc_file_reads_and_prunes():
    """A grouped file from the codec before decimal floats — delta, frame of
    reference and shuffled int blocks, shuffled and plain float blocks,
    narrow dictionary indices, nulls, mix64 and blake2b filters — reads
    value-identically, and its filters and stats prune as they did."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    meta = codec_v2.read_meta(ENC_COMPAT_FILE)
    assert meta["features"] == ["bloom_mix64", "enc"] and len(meta["row_groups"]) == 3
    for g in meta["row_groups"]:
        assert g["rows"] == 256
        assert [_picked(g, c)[0] for c in ("id", "k", "wide", "qty", "price", "noise", "cat")] == [
            ("delta", 1), ("for", 2), ("shuffle", 8), ("shuffle", 8), None, ("shuffle", 8), ("for", 1),
        ]
    want = _enc_compat_table()
    back = codec_v2.read_arrow_table(ENC_COMPAT_FILE)
    for name in want.column_names:
        assert _bits(back.column(name)) == _bits(want.column(name)), name

    ids = set(want.column("id").to_pylist())
    for g in meta["row_groups"]:
        cols = {c["name"]: c for c in g["columns"]}
        assert cols["id"]["bloom_mix64"]["h"] == "mix64" and "h" not in cols["name"]["bloom"]
        lo, hi = cols["id"]["stats"]["min"], cols["id"]["stats"]["max"]
        present = [v for v in ids if lo <= v <= hi]
        absent = [v for v in range(lo, hi) if v not in ids]  # inside min/max

        def keeps(flt):
            return codec_v2._stats_may_match(g["columns"], g["rows"], [flt])

        assert all(keeps(EqualTo(("id",), v)) for v in present)
        assert sum(not keeps(EqualTo(("id",), v)) for v in absent) >= 0.9 * len(absent)
        assert not keeps(In(("name",), ("name_5000",)))
        assert not keeps(GreaterThan(("qty",), 50.0))
    with SCBFReader(ENC_COMPAT_FILE) as r:
        got = r.to_arrow(filters=[EqualTo(("id",), 1000 + 3 * 300)])  # row 300, group 1
        assert got.num_rows == 256 and 1900 in got.column("id").to_pylist()
        assert r.to_arrow(filters=[GreaterThan(("price",), 200_000.0)]).num_rows == 0


def _rewrite_footer(path: str, edit) -> None:
    import json
    import struct
    import zlib

    raw = open(path, "rb").read()
    (meta_len,) = struct.unpack("<Q", raw[-16:-8])
    meta = json.loads(zlib.decompress(raw[-16 - meta_len : -16]))
    edit(meta)
    comp = zlib.compress(json.dumps(meta).encode("utf-8"))
    with open(path, "wb") as f:
        f.write(raw[: -16 - meta_len] + comp + struct.pack("<Q", len(comp)) + codec_v2.MAGIC_V2)


def test_unknown_feature_fails_loudly(tmp_path):
    """A footer naming a feature this reader does not implement raises at
    footer parse — through read_meta, read_arrow_table and SCBFReader —
    instead of returning rows it may misread."""
    p = str(tmp_path / "future.scbf")
    codec_v2.write_arrow_table(p, pa.table({"v": pa.array(range(500))}))
    assert codec_v2.read_meta(p)["features"] == ["enc"]
    _rewrite_footer(p, lambda m: m.update(features=["enc", "zstd_frames"]))
    with pytest.raises(codec_v2.ScbfV2Error, match="zstd_frames"):
        codec_v2.read_meta(p)
    with pytest.raises(codec_v2.ScbfV2Error, match="zstd_frames"):
        codec_v2.read_arrow_table(p)
    with pytest.raises(codec_v2.ScbfV2Error, match="zstd_frames"):
        SCBFReader(p)


@pytest.mark.parametrize(
    "bad",
    [{"base": 1.5}, {"width": 3}, {"width": 4}, {"kind": "rle"}, {"base": 2**40}, None],
)
def test_malformed_block_encoding_fails_loudly(tmp_path, bad):
    """A corrupt ``enc`` entry in the footer raises ``ScbfV2Error`` instead
    of decoding the stored bytes some other way."""
    p = str(tmp_path / "bad_enc.scbf")
    codec_v2.write_arrow_table(p, pa.table({"v": pa.array(range(0, 900, 3), type=pa.int32())}))

    def corrupt(meta):
        ref = meta["columns"][0]["blocks"]["data_enc"]
        ref["enc"] = None if bad is None else {**ref["enc"], **bad}

    _rewrite_footer(p, corrupt)
    with pytest.raises(codec_v2.ScbfV2Error, match="encoding"):
        codec_v2.read_arrow_table(p)


def _dec_file(tmp_path) -> str:
    p = str(tmp_path / "dec.scbf")
    prices = np.round(np.random.default_rng(2).uniform(0, 1000, 600), 2)
    codec_v2.write_arrow_table(p, pa.table({"f": pa.array(prices)}))
    assert _picked(codec_v2.read_meta(p), "f") == [("dec", 2, "for", 4)]
    return p


def test_reader_without_dec_feature_fails_loudly(tmp_path, monkeypatch):
    """A file with decimal float blocks names ``dec`` in its features, so a
    reader that does not implement them raises at footer parse."""
    p = _dec_file(tmp_path)
    assert codec_v2.read_meta(p)["features"] == ["dec", "enc"]
    monkeypatch.setattr(codec_v2, "FEATURES", codec_v2.FEATURES - {"dec"})
    with pytest.raises(codec_v2.ScbfV2Error, match="dec"):
        codec_v2.read_meta(p)
    with pytest.raises(codec_v2.ScbfV2Error, match="dec"):
        SCBFReader(p)


@pytest.mark.parametrize(
    "bad",
    [
        {"exp": -1}, {"exp": 9}, {"exp": 1.5}, {"exp": None}, {"int": "shuffle"}, {"int": "dec"},
        {"int": None}, {"width": 8}, {"width": 2}, {"base": 2**53 + 1}, {"base": -(2**53) - 1},
        {"base": 0.5}, {"kind": "for"},
    ],
)
def test_malformed_decimal_encoding_fails_loudly(tmp_path, bad):
    """A corrupt ``dec`` entry — exponent out of range or not an int, an
    int kind other than delta or frame of reference, a width that is 8 or
    does not match the bytes, a base beyond ±2**53, or the entry read as
    an int encoding of a float block — raises ``ScbfV2Error``."""
    p = _dec_file(tmp_path)

    def corrupt(meta):
        enc = meta["columns"][0]["blocks"]["data_enc"]["enc"]
        enc.update(bad)
        for k in [k for k, v in bad.items() if v is None]:
            del enc[k]

    _rewrite_footer(p, corrupt)
    with pytest.raises(codec_v2.ScbfV2Error, match="encoding"):
        codec_v2.read_arrow_table(p)


def test_decimal_block_on_int_column_fails_loudly(tmp_path):
    """A ``dec`` entry on an int column's block raises instead of decoding."""
    p = str(tmp_path / "i.scbf")
    codec_v2.write_arrow_table(p, pa.table({"v": pa.array(range(0, 900, 3), type=pa.int64())}))
    _rewrite_footer(
        p, lambda m: m["columns"][0]["blocks"]["data_enc"]["enc"].update(kind="dec", exp=0, int="delta")
    )
    with pytest.raises(codec_v2.ScbfV2Error, match="encoding"):
        codec_v2.read_arrow_table(p)


def test_small_block_sets_keep_the_plain_format(tmp_path):
    """Block sets under ``ENC_MIN_ROWS`` rows are written in the plain
    format: a 100-row file and a file of 100-row groups, decimal floats
    included, match pinned hashes of their block bytes (``codec="none"``)
    and of their footer JSON, so the format of small files cannot drift."""
    import hashlib
    import json
    import zlib

    n = 300
    t = pa.table(
        {
            "i": pa.array([None if i % 7 == 0 else i * 3 for i in range(n)], type=pa.int64()),
            "f": pa.array([None if i % 5 == 0 else i / 4 for i in range(n)], type=pa.float64()),
            "s": pa.array([("a", "bb", None)[i % 3] for i in range(n)]),
        }
    )
    pins = {  # (blocks, footer) sha256, as the codec before decimal floats wrote them
        None: (
            "d95d27475106a9a8bc993a1b87bd4cca0dd869804cd13ef8c7f9d53d79e2861e",
            "d8a62e828fcce2b06de95f3e19a11a4e76e4b340c45197674ac85f2c5c304075",
        ),
        100: (
            "1195658574b22ad63d5446cf9a61c8bad7023982b98901443d5af998c0e1d65e",
            "a5a67f0bd6ec21aee2971d3ef24adf6ae34dac9b874a8c0d1118dcc6da705e44",
        ),
    }
    for rpg, pin in pins.items():
        p = str(tmp_path / f"small_{rpg}.scbf")
        small = t.slice(0, 100) if rpg is None else t
        codec_v2.write_arrow_table(p, small, codec="none", rows_per_group=rpg, bloom_columns=["i"])
        raw = open(p, "rb").read()
        (meta_len,) = struct.unpack("<Q", raw[-16:-8])
        meta = json.loads(zlib.decompress(raw[-16 - meta_len : -16]))
        assert "features" not in meta
        got = (
            hashlib.sha256(raw[: -16 - meta_len]).hexdigest(),
            hashlib.sha256(json.dumps(meta, sort_keys=True).encode()).hexdigest(),
        )
        assert got == pin, rpg


_READ_IN_CHILD = """
import sys
from custom_columnar_format_spark.scbf import codec, codec_v2
read = codec.read_arrow_table if sys.argv[2] == "v1" else codec_v2.read_arrow_table
try:
    print(read(sys.argv[1]).column(0).to_pylist())
except codec_v2.ScbfV2Error as e:
    print("ScbfV2Error:", e)
"""


def _read_in_child(path: str, version: str) -> str:
    """Read ``path``'s first column in a fresh interpreter: Arrow trusts
    offsets, so a decoder that lets corrupt ones through can abort the
    process, which must fail this test rather than end the test session."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root + os.pathsep + os.environ.get("PYTHONPATH", "")}
    proc = subprocess.run(
        [sys.executable, "-c", _READ_IN_CHILD, path, version], capture_output=True, text=True, env=env, timeout=120
    )
    assert proc.returncode == 0, (proc.returncode, proc.stderr[-2000:])
    return proc.stdout


@pytest.mark.parametrize("offsets", [[0, 5, 3], [0, 3, 100_000], [0, 2**31, 2**31], [1, 3, 5], [0, 2]])
def test_corrupt_utf8_offsets_fail_loudly(tmp_path, offsets):
    """Crafted v1 utf8 offsets — decreasing, past the blob, at or above
    2**31, not starting at 0, too few — raise ``ScbfV2Error`` naming the
    column instead of aborting the interpreter or raising from Arrow."""
    from custom_columnar_format_spark.scbf import codec

    p = str(tmp_path / "bad_offsets.scbf")
    with open(p, "wb") as f:
        raw = (np.array(offsets, dtype="<u4").tobytes(), b"hello")
        codec.write_table_raw(f, ["s"], [codec.TYPE_UTF8], [raw], 2)
    out = _read_in_child(p, "v1")
    assert "ScbfV2Error" in out and "'s'" in out, out


@pytest.mark.parametrize("role", ["offsets", "dict_offsets"])
def test_corrupt_v2_utf8_offsets_fail_loudly(tmp_path, role):
    """The same check covers v2's plain and dictionary offsets (a block
    rewritten in place, its CRC updated so only the offsets are wrong)."""
    import zlib

    p = str(tmp_path / f"bad_{role}.scbf")
    vals = ["ab", "cde", "f", "ab"] * 2 if role == "dict_offsets" else ["ab", "cde", "f", "gh"]
    codec_v2.write_arrow_table(p, pa.table({"s": pa.array(vals)}), codec="none")
    ref = codec_v2.read_meta(p)["columns"][0]["blocks"][role]
    offs = np.frombuffer(open(p, "rb").read()[ref["offset"] : ref["offset"] + ref["comp"]], dtype="<u4").copy()
    offs[1], offs[2] = offs[2], offs[1]  # a decreasing pair
    with open(p, "r+b") as f:
        f.seek(ref["offset"])
        f.write(offs.tobytes())
    _rewrite_footer(p, lambda m: m["columns"][0]["blocks"][role].update(crc32=zlib.crc32(offs.tobytes())))
    out = _read_in_child(p, "v2")
    assert "ScbfV2Error" in out and "'s'" in out, out


def test_encoded_blocks_and_mix64_filters_hidden_from_older_readers(tmp_path):
    """Structural guard: no file stores an encoded block under a role an
    older reader decodes as plain values, or a mix64 filter under the
    ``bloom`` key an older reader probes with blake2b; every such use is
    named in ``features``. Covers every type, nulls, dictionaries, all
    codecs, grouped and ungrouped, small and large block sets."""
    rng = np.random.default_rng(3)
    n = 1000
    t = pa.table(
        {
            "i32": pa.array(rng.integers(-500, 500, n).astype(np.int32)),
            "i64": pa.array([None if i % 9 == 0 else i for i in range(n)], type=pa.int64()),
            "f": pa.array(rng.integers(0, 50, n).astype(np.float64)),
            "b": pa.array(rng.integers(0, 2, n).astype(bool)),
            "cat": pa.array(np.array(["x", "y", "z"])[rng.integers(0, 3, n)]),
            "txt": pa.array([f"t{i}" for i in range(n)]),
        }
    )
    seen = collections.Counter()
    for codec in ROUNDTRIP_CODECS:
        for rpg in (None, 300, 100):
            p = str(tmp_path / f"s_{codec}_{rpg}.scbf")
            codec_v2.write_arrow_table(p, t, codec=codec, rows_per_group=rpg, bloom_columns=["i32", "i64", "txt"])
            meta = codec_v2.read_meta(p)
            features = set(meta.get("features", ()))
            for g in [meta] + meta.get("row_groups", []):
                for cm in g["columns"]:
                    for role, ref in cm["blocks"].items():
                        if "enc" in ref:
                            assert role in ("data_enc", "indices_enc") and "enc" in features
                            seen["enc"] += 1
                            if ref["enc"]["kind"] == "dec":
                                assert cm["type"] == "float64" and "dec" in features
                                seen["dec"] += 1
                        else:
                            assert role in PLAIN_ROLES, role
                    if "bloom" in cm:
                        assert "h" not in cm["bloom"]  # blake2b
                        seen["blake2b"] += 1
                    if "bloom_mix64" in cm:
                        assert cm["bloom_mix64"]["h"] == "mix64" and "bloom_mix64" in features
                        seen["mix64"] += 1
    assert seen["enc"] and seen["dec"] and seen["blake2b"] and seen["mix64"]  # not vacuous


def _splitmix_positions(v: int, k: int, m: int) -> list:
    """The mix64 bit positions in plain Python ints — the file contract."""
    mask = (1 << 64) - 1

    def mix(z):
        z = (z + 0x9E3779B97F4A7C15) & mask
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
        return z ^ (z >> 31)

    h1 = mix(v & mask)
    h2 = mix(h1) | 1
    return [((h1 + i * h2) & mask) % m for i in range(k)]


def test_mix64_positions_match_python_reference():
    vals = [0, 1, -1, 2**31 - 1, -(2**31), 2**63 - 1, -(2**63), 123456789]
    got = codec_v2._mix64_positions(vals, 7, 9587)
    assert got.tolist() == [_splitmix_positions(v, 7, 9587) for v in vals]


def test_mix64_bloom_no_false_negatives_property():
    """Hypothesis: every int32/int64 value a mix64 filter was built from —
    negatives and the int64 extremes included — may be contained, probed
    one at a time and as one IN list."""
    lo, hi = INT_BOUNDS["int64"]

    @settings(max_examples=60, deadline=None)
    @given(
        ints=st.sets(st.one_of(st.integers(lo, hi), st.sampled_from([lo, hi, -1, 0])), min_size=1, max_size=400),
        type_name=st.sampled_from(["int32", "int64"]),
    )
    def check(ints, type_name):
        if type_name == "int32":
            ints = {max(-(2**31), min(2**31 - 1, v)) for v in ints}
        bl = codec_v2._bloom_of(np.asarray(sorted(ints), dtype=np.int64), type_name)
        assert bl["h"] == "mix64"
        assert all(codec_v2.bloom_contains(bl, v, type_name) for v in ints)
        assert codec_v2.bloom_may_contain_any(bl, list(ints), type_name)

    check()


def test_mix64_bloom_false_positive_rate():
    """At the 1% target, absent probes test positive at most about 2%."""
    rng = np.random.default_rng(11)
    vals = np.unique(rng.integers(-(2**40), 2**40, 20_000))
    bl = codec_v2._bloom_of(vals, "int64")
    probes = rng.integers(2**41, 2**42, 100_000)  # disjoint from vals
    pos = codec_v2._mix64_positions(probes, bl["k"], bl["m"])
    codec_v2.bloom_contains(bl, int(vals[0]), "int64")  # decodes the bits
    fp = bl["_bits"][pos].all(axis=1).mean()
    assert fp <= 0.02, fp


def test_vectorized_in_probe_prunes_like_per_value_probes(tmp_path):
    """Hypothesis: for any IN list, a group's mix64 filter keeps the group
    exactly when some per-value ``bloom_contains`` says may-contain, and
    ``_stats_may_match`` prunes exactly those groups (min/max disabled by
    probing inside every group's range)."""
    from pyspark.sql.datasource import In

    rng = np.random.default_rng(5)
    ids = rng.permutation(np.arange(0, 40_000, 5))[:4096].astype(np.int32)
    ids[:4] = [0, 39_999, 0, 39_999]  # every group spans the whole id range
    ids[2048:2052] = [0, 39_999, 0, 39_999]
    p = str(tmp_path / "in.scbf")
    codec_v2.write_arrow_table(p, pa.table({"id": pa.array(ids)}), rows_per_group=2048, bloom_columns=["id"])
    groups = codec_v2.read_meta(p)["row_groups"]
    assert all("bloom_mix64" in g["columns"][0] for g in groups)

    @settings(max_examples=60, deadline=None)
    @given(probe=st.lists(st.integers(1, 39_998), min_size=0, max_size=12))
    def check(probe):
        for g in groups:
            bl = g["columns"][0]["bloom_mix64"]
            per_value = any(codec_v2.bloom_contains(bl, v, "int32") for v in probe)
            assert codec_v2.bloom_may_contain_any(bl, probe, "int32") == per_value
            assert codec_v2._stats_may_match(g["columns"], g["rows"], [In(("id",), tuple(probe))]) == per_value

    check()


@pytest.mark.parametrize("bad", [7, -3])
@pytest.mark.parametrize("rows", [8, 200], ids=["indices", "indices_enc"])
def test_dictionary_index_out_of_range_fails_loudly(tmp_path, rows, bad):
    """A dictionary index outside ``[0, n_dict)`` — in a plain ``indices``
    block or a frame-of-reference ``indices_enc`` block, its CRC fixed so
    only the index is wrong — raises ``ScbfV2Error`` naming the column
    instead of Arrow's bare index error. The null slot holds a valid index
    and passes the same check."""
    import zlib

    p = str(tmp_path / "bad_index.scbf")
    vals = (["ab", "cd", None, "cd"] * rows)[:rows]
    codec_v2.write_arrow_table(p, pa.table({"s": pa.array(vals)}), codec="none")
    assert codec_v2.read_arrow_table(p).column("s").to_pylist() == vals
    blocks = codec_v2.read_meta(p)["columns"][0]["blocks"]
    role = "indices_enc" if rows >= codec_v2.ENC_MIN_ROWS else "indices"
    ref = blocks[role]
    if role == "indices_enc":
        assert ref["enc"]["kind"] == "for" and ref["enc"]["width"] == 1
    raw = bytearray(open(p, "rb").read()[ref["offset"] : ref["offset"] + ref["comp"]])
    if role == "indices":
        raw[4:8] = np.int32(bad).tobytes()  # row 1
    elif bad >= 0:
        raw[1] = bad
    with open(p, "r+b") as f:
        f.seek(ref["offset"])
        f.write(bytes(raw))

    def edit(m):
        b = m["columns"][0]["blocks"][role]
        b["crc32"] = zlib.crc32(bytes(raw))
        if role == "indices_enc" and bad < 0:
            b["enc"]["base"] = bad  # every index shifts below 0

    _rewrite_footer(p, edit)
    with pytest.raises(codec_v2.ScbfV2Error, match=r"column 's'.*dictionary index"):
        codec_v2.read_arrow_table(p)
