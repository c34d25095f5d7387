"""Reference-parity surface tests: the CLI command set (reference cli.py:33-43)
and the SCBFReader class API (promised in reference README.md:67-89, never
implemented there)."""

import csv
import os

import pytest
from pyspark.sql.datasource import IsNotNull, IsNull

from custom_columnar_format_spark.cli import main as cli_main
from custom_columnar_format_spark.scbf.reader_api import SCBFReader

CSV_BODY = "id,score,name\n1,1.5,alpha\n2,2.5,beta\n3,3.5,gamma\n"


@pytest.fixture()
def sample_csv(tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(CSV_BODY)
    return str(p)


def test_cli_local_roundtrip(sample_csv, tmp_path):
    scbf = str(tmp_path / "out.scbf")
    out_csv = str(tmp_path / "out.csv")
    assert cli_main(["csv_to_custom", sample_csv, scbf]) == 0
    assert cli_main(["custom_to_csv", scbf, out_csv]) == 0
    with open(out_csv) as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["id", "score", "name"]
    assert rows[1] == ["1", "1.5", "alpha"] and len(rows) == 4


def test_cli_selective_columns(sample_csv, tmp_path):
    scbf = str(tmp_path / "out.scbf")
    out_csv = str(tmp_path / "sel.csv")
    cli_main(["csv_to_custom", sample_csv, scbf])
    cli_main(["custom_to_csv", scbf, out_csv, "--cols", "name", "id"])
    with open(out_csv) as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["name", "id"]  # request order preserved
    assert rows[1] == ["alpha", "1"]


def test_cli_compat_inference(tmp_path):
    """Reference inference: first non-empty value decides the type
    (reference writer.py:41-47) — '1' then '2.5' crashes there; our compat
    mode reproduces the type choice but the full mode widens."""
    p = tmp_path / "mix.csv"
    p.write_text("x\n1\n2\n")
    scbf = str(tmp_path / "mix.scbf")
    cli_main(["csv_to_custom", str(p), scbf, "--compat-inference"])
    assert SCBFReader(scbf).schema() == {"x": "int32"}


def test_reader_class_api(sample_csv, tmp_path):
    scbf = str(tmp_path / "r.scbf")
    cli_main(["csv_to_custom", sample_csv, scbf])
    r = SCBFReader(scbf)
    assert r.list_columns() == ["id", "score", "name"]
    assert r.num_rows == 3
    assert r.schema()["score"] == "float64"
    names, rows = r.read_all()
    assert names == ["id", "score", "name"] and rows[0] == [1, 1.5, "alpha"]
    cols = r.read_columns(["score"])
    assert cols == {"score": [1.5, 2.5, 3.5]}
    pdf = r.to_pandas(["name"])
    assert list(pdf["name"]) == ["alpha", "beta", "gamma"]
    # v1 stores no nulls, so IS NULL provably matches no row
    assert r.may_match([IsNull(("id",))]) is False
    assert r.may_match([IsNotNull(("id",))]) is True
    assert r.to_arrow(filters=[IsNull(("id",))]).num_rows == 0


def test_reader_to_spark(spark, sample_csv, tmp_path):
    scbf = str(tmp_path / "s.scbf")
    cli_main(["csv_to_custom", sample_csv, scbf])
    df = SCBFReader(scbf).to_spark(spark, columns=["id", "score"])
    assert df.schema.fieldNames() == ["id", "score"]
    assert df.count() == 3


def test_cli_maintenance_surface(spark, sf_small, tmp_path, capsys):
    """compact / snapshot / rollback / vacuum drive the operators end-to-end
    from the CLI entry point."""
    import glob as g

    from custom_columnar_format_spark.cli import main
    from custom_columnar_format_spark.sources.scbf_datasource import register

    register(spark)
    path = str(tmp_path / "ds")
    df = spark.read.parquet(f"{sf_small}/orders.parquet").select("o_orderkey", "o_totalprice")
    df.repartition(6).write.format("scbf").option("version", "2").mode("overwrite").save(path)
    n = spark.read.format("scbf").load(path).count()

    assert main(["snapshot", "create", path, "--tag", "before"]) == 0
    df.limit(100).coalesce(1).write.format("scbf").option("version", "2").mode("append").save(path)
    assert spark.read.format("scbf").load(path).count() == n + 100

    assert main(["snapshot", "list", path]) == 0
    assert "before" in capsys.readouterr().out

    assert main(["snapshot", "rollback", path, "--snapshot", "before"]) == 0
    assert spark.read.format("scbf").load(path).count() == n

    assert main(["compact", path, "--target-files", "2", "--sort-by", "o_orderkey"]) == 0
    assert len(g.glob(os.path.join(path, "*.scbf"))) <= 2
    assert spark.read.format("scbf").load(path).count() == n

    os.makedirs(path + ".merge-tmp")
    assert main(["vacuum", path, "--older-than", "0"]) == 0
    assert not os.path.exists(path + ".merge-tmp")


def test_reader_class_api_v2(tmp_path):
    """SCBFReader auto-detects v2 files: same README surface, richer types,
    nulls as None — including a row-grouped file."""
    import pyarrow as pa

    from custom_columnar_format_spark.scbf import codec_v2

    t = pa.table(
        {
            "id": pa.array([1, 2, None, 4], type=pa.int64()),
            "name": pa.array(["a", None, "c", "d"]),
            "ok": pa.array([True, False, True, None]),
        }
    )
    p = str(tmp_path / "v2.scbf")
    codec_v2.write_arrow_table(p, t, rows_per_group=3)
    r = SCBFReader(p)
    assert r.version == 2
    assert r.list_columns() == ["id", "name", "ok"]
    assert r.schema() == {"id": "int64", "name": "utf8", "ok": "bool"}
    assert r.num_rows == 4
    names, rows = r.read_all()
    assert names == ["id", "name", "ok"]
    assert rows[1] == [2, None, False] and rows[2] == [None, "c", True]
    assert r.read_columns(["ok"]) == {"ok": [True, False, True, None]}
    # a repeated name collapses dict-style, in request order (as for v1)
    assert r.read_columns(["name", "id", "name"]) == {
        "name": ["a", None, "c", "d"],
        "id": [1, 2, None, 4],
    }
    assert r.to_arrow(["id"]).column("id").to_pylist() == [1, 2, None, 4]


def test_cli_local_export_reads_v2(tmp_path):
    """``custom_to_csv`` reads v2 files (nulls become empty cells),
    whole or projected, like ``inspect`` does."""
    import pyarrow as pa

    from custom_columnar_format_spark.scbf import codec_v2

    p = str(tmp_path / "v2.scbf")
    t = pa.table({"id": pa.array([1, None, 3], type=pa.int64()), "name": ["a", "b", None]})
    codec_v2.write_arrow_table(p, t)
    out_csv = str(tmp_path / "out.csv")
    assert cli_main(["custom_to_csv", p, out_csv]) == 0
    with open(out_csv) as f:
        assert list(csv.reader(f)) == [["id", "name"], ["1", "a"], ["", "b"], ["3", ""]]
    assert cli_main(["custom_to_csv", p, out_csv, "--cols", "name", "id"]) == 0
    with open(out_csv) as f:
        assert list(csv.reader(f)) == [["name", "id"], ["a", "1"], ["b", ""], ["", "3"]]


def test_cli_inspect_head_preview(sample_csv, tmp_path, capsys):
    """``inspect --head N`` is the reference reader demo surface
    (reference reader.py:164-198: first-N-rows preview, or per-column
    first-N values with --cols) — pure codec path, no Spark session."""
    scbf = str(tmp_path / "out.scbf")
    cli_main(["csv_to_custom", sample_csv, scbf])

    assert cli_main(["inspect", scbf, "--head", "2"]) == 0
    out = capsys.readouterr().out
    assert "rows: 3" in out
    assert "Columns: ['id', 'score', 'name']" in out
    assert "First 2 rows:" in out
    assert "[1, 1.5, 'alpha']" in out and "[2, 2.5, 'beta']" in out
    assert "'gamma'" not in out  # head honored

    assert cli_main(["inspect", scbf, "--head", "2", "--cols", "name", "id"]) == 0
    out = capsys.readouterr().out
    assert "--- Column: name (3 rows) ---" in out
    assert "['alpha', 'beta']" in out
    assert "--- Column: id (3 rows) ---" in out
    assert "[1, 2]" in out

    # no --head: metadata only, unchanged surface
    assert cli_main(["inspect", scbf]) == 0
    out = capsys.readouterr().out
    assert "rows: 3" in out and "First" not in out


def _inspect_lines(path, capsys) -> dict:
    """``inspect``'s per-column lines as {name: {key: value}}, plus the
    ``blocks`` summary line under the key ``None``."""
    assert cli_main(["inspect", path]) == 0
    out = {}
    for line in capsys.readouterr().out.splitlines():
        if "stored=" in line:
            key = None if line.startswith("blocks:") else line.split(":")[0].strip()
            out[key] = dict(tok.split("=", 1) for tok in line.split() if "=" in tok)
    return out


def test_cli_inspect_reports_compression(tmp_path, capsys, monkeypatch):
    """``inspect`` prints, per column, the stored bytes, the raw bytes (v2)
    and the encodings, summed over row groups, from the footer alone: a v1
    file, a plain v2 file and a grouped v2 file with decimal blocks."""
    import numpy as np
    import pyarrow as pa

    from custom_columnar_format_spark.scbf import codec, codec_v2

    n = 1000
    rng = np.random.default_rng(4)
    t = pa.table(
        {
            "id": pa.array(np.arange(n, dtype=np.int32)),
            "price": pa.array(np.round(rng.uniform(1, 1000, n), 2)),
            "noise": pa.array(rng.standard_normal(n)),
            "cat": pa.array([("a", "b", None)[i % 3] for i in range(n)]),
        }
    )
    v1, plain, grouped = (str(tmp_path / f) for f in ("v1.scbf", "plain.scbf", "grouped.scbf"))
    codec.write_arrow_table(v1, t.select(["id", "price", "noise"]))
    codec_v2.write_arrow_table(plain, t.slice(0, 100))
    codec_v2.write_arrow_table(grouped, t, rows_per_group=300)  # groups of 300, 300, 300, 100

    def no_blocks(*a, **k):
        raise AssertionError("inspect read a data block")

    monkeypatch.setattr(codec_v2, "_get_block", no_blocks)
    for path in (v1, plain, grouped):
        lines = _inspect_lines(path, capsys)
        with SCBFReader(path) as r:
            for j, cm in enumerate(r.meta["columns"]):
                refs = [ref for g in r.groups for ref in g["columns"][j]["blocks"].values()]
                assert int(lines[cm["name"]]["stored"]) == sum(ref["comp"] for ref in refs), (path, cm)
            total = sum(int(lines[c["name"]]["stored"]) for c in r.meta["columns"])
            assert int(lines[None]["stored"]) == total
        if path == v1:
            assert all("raw" not in f for f in lines.values())
            assert all(f["enc"] == "plain" for k, f in lines.items() if k is not None)
    lines = _inspect_lines(plain, capsys)
    assert lines["id"] == {"stored": lines["id"]["stored"], "raw": "400", "enc": "plain"}
    assert lines["cat"]["enc"] == "dictionary,plain"

    lines = _inspect_lines(grouped, capsys)
    # raw: the values before encoding (4 + 8 bytes a row), whatever is stored
    assert lines["id"]["raw"] == str(4 * n) and lines["price"]["raw"] == str(8 * n)
    assert lines["id"]["enc"] == "delta,plain"  # the 100-row group is plain
    assert lines["price"]["enc"] == "dec,for,plain"
    assert lines["noise"]["enc"] == "plain,shuffle"
    assert lines["cat"]["enc"] == "dictionary,for,plain"
    assert int(lines["price"]["stored"]) < 0.7 * 8 * n
    assert int(lines[None]["raw"]) == sum(int(f["raw"]) for k, f in lines.items() if k is not None)


def test_cli_ivf_maintenance_surface(spark, sf_small, tmp_path, capsys):
    """The IVF store ops surface end-to-end from the CLI: info (flat) →
    init-generational → info (pointer) → compact (generation flip) →
    rebuild → vacuum-generations → heal (no-op on a healthy store)."""
    import numpy as np
    from pyspark.sql import functions as F

    from custom_columnar_format_spark.cli import main
    from custom_columnar_format_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    cent = S.ivf_centroids(emb, nlist=8)
    store = str(tmp_path / "store")
    S.ivf_write_partitioned(emb, store, cent)

    assert main(["ivf", "info", store]) == 0
    out = capsys.readouterr().out
    assert "'layout': 'flat'" in out and "'quantizer': [8, " in out

    assert main(["ivf", "init-generational", store]) == 0
    capsys.readouterr()
    assert main(["ivf", "info", store]) == 0
    out = capsys.readouterr().out
    assert "'layout': 'generational'" in out and "gen-000001" in out

    S.ivf_delete_ids(emb.filter(F.col("vec_id") % 2 == 0).select("vec_id"), store)
    assert main(["ivf", "compact", store]) == 0
    out = capsys.readouterr().out
    assert "'generation': 'gen-000002'" in out

    assert main(["ivf", "rebuild", store, "--nlist", "8"]) == 0
    out = capsys.readouterr().out
    assert "'generation': 'gen-000003'" in out

    assert main(["ivf", "vacuum-generations", store, "--keep-last", "0"]) == 0
    out = capsys.readouterr().out
    assert "gen-000001" in out and "gen-000002" in out

    assert main(["ivf", "heal", store]) == 0
    out = capsys.readouterr().out
    assert "'action':" in out

    # the store still answers through the pointer with its stored quantizer
    qv = list(emb.orderBy("vec_id").first()["embedding"])
    got = S.ivf_topk_partitioned(spark, store, qv, k=5, nprobe=8)
    assert got.count() == 5
    survivors = {r["vec_id"] for r in spark.read.parquet(S._resolve_store(store)).collect()}
    assert all(v % 2 != 0 for v in survivors)


def _csv_to_local(tmp_path, body: bytes):
    src = tmp_path / "in.csv"
    src.write_bytes(body)
    out = str(tmp_path / "out.scbf")
    cli_main(["csv_to_custom", str(src), out])
    return out


def test_cli_local_short_row_raises(tmp_path):
    """A record with too few fields names itself (it raised a bare
    ``IndexError`` before)."""
    from custom_columnar_format_spark.scbf.codec import ScbfError

    with pytest.raises(ScbfError, match=r"Row #3: Expected 2 columns, got 1: 2"):
        _csv_to_local(tmp_path, b"id,name\n1,a\n2\n3,c\n")


def test_cli_local_long_row_raises(tmp_path):
    """A record with extra fields raises instead of losing them."""
    from custom_columnar_format_spark.scbf.codec import ScbfError

    with pytest.raises(ScbfError, match=r"Row #2: Expected 2 columns, got 3: 1,a,lost"):
        _csv_to_local(tmp_path, b"id,name\n1,a,lost\n2,b\n")


def test_cli_local_blank_lines_skipped(tmp_path):
    out = _csv_to_local(tmp_path, b"id,name\n\n1,a\n\n\n2,b\n\n")
    r = SCBFReader(out)
    assert r.schema() == {"id": "int32", "name": "utf8"}
    assert r.read_all() == (["id", "name"], [[1, "a"], [2, "b"]])


def test_cli_local_empty_file_raises(tmp_path):
    from custom_columnar_format_spark.scbf.codec import ScbfError

    with pytest.raises(ScbfError, match="empty CSV"):
        _csv_to_local(tmp_path, b"")


def test_cli_local_header_only_writes_empty_utf8(tmp_path):
    """A header with no records writes a 0-row file, every column utf8."""
    out = _csv_to_local(tmp_path, b"id,score,id\r\n")
    r = SCBFReader(out)
    assert r.num_rows == 0
    assert [c["type"] for c in r.meta["columns"]] == ["utf8"] * 3
    assert [c["name"] for c in r.meta["columns"]] == ["id", "score", "id"]


def test_cli_local_drops_utf8_bom(tmp_path):
    """An Excel-style CSV starts with a UTF-8 BOM: the first column is
    ``id``, not ``"\\ufeffid"``, so ``--cols id`` selects it."""
    out = _csv_to_local(tmp_path, "\ufeffid,name\n1,a\n2,b\n".encode("utf-8"))
    assert SCBFReader(out).schema() == {"id": "int32", "name": "utf8"}
    out_csv = str(tmp_path / "ids.csv")
    assert cli_main(["custom_to_csv", out, out_csv, "--cols", "id"]) == 0
    with open(out_csv, encoding="utf-8") as f:
        assert list(csv.reader(f)) == [["id"], ["1"], ["2"]]


# -- one conversion path: the codec, never a Spark session ----------------------

EMPTY_CELL_CSV = "id,name,score\n1,alice,1.5\n2,,2.5\n3,bob,3.5\n"


def test_cli_default_roundtrips_empty_text_cell(tmp_path):
    """An empty text cell is ``''``, not a null the format cannot store:
    the default commands convert it and write it back as an empty cell."""
    src = tmp_path / "in.csv"
    src.write_text(EMPTY_CELL_CSV)
    scbf, out_csv = str(tmp_path / "out.scbf"), str(tmp_path / "out.csv")
    assert cli_main(["csv_to_custom", str(src), scbf]) == 0
    assert SCBFReader(scbf).read_columns(["name"]) == {"name": ["alice", "", "bob"]}
    assert cli_main(["custom_to_csv", scbf, out_csv]) == 0
    with open(out_csv, newline="") as f:
        assert f.read().replace("\r\n", "\n") == EMPTY_CELL_CSV


def test_cli_default_widens_int_beyond_int32(tmp_path):
    """An integer column with a value past int32 widens to float64 instead
    of overflowing a cast."""
    src = tmp_path / "in.csv"
    src.write_text("id,name\n1,a\n3000000000,b\n")
    scbf = str(tmp_path / "out.scbf")
    assert cli_main(["csv_to_custom", str(src), scbf]) == 0
    r = SCBFReader(scbf)
    assert r.schema() == {"id": "float64", "name": "utf8"}
    assert r.read_columns(["id"]) == {"id": [1.0, 3e9]}


def test_cli_conversions_never_start_spark(sample_csv, tmp_path, monkeypatch):
    from custom_columnar_format_spark import cli

    def no_spark(*_a, **_k):
        raise AssertionError("a conversion asked for a Spark session")

    monkeypatch.setattr(cli, "_get_spark", no_spark)
    scbf, out_csv = str(tmp_path / "out.scbf"), str(tmp_path / "out.csv")
    assert cli_main(["csv_to_custom", sample_csv, scbf, "--compat-inference",
                     "--compression-level", "1"]) == 0
    assert cli_main(["custom_to_csv", scbf, out_csv, "--cols", "name", "id"]) == 0
    with open(out_csv) as f:
        assert list(csv.reader(f))[:2] == [["name", "id"], ["alpha", "1"]]
    assert cli_main(["csv_to_custom", sample_csv, scbf]) == 0
    assert cli_main(["custom_to_csv", scbf, out_csv]) == 0
    with open(out_csv) as f:
        assert list(csv.reader(f))[1] == ["1", "1.5", "alpha"]


def test_cli_conversions_never_import_pyspark(sample_csv, tmp_path):
    """Both conversions run in a process that never imports pyspark."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        "from custom_columnar_format_spark.cli import main\n"
        "main(['csv_to_custom', sys.argv[1], sys.argv[2]])\n"
        "main(['custom_to_csv', sys.argv[2], sys.argv[3], '--cols', 'id'])\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script, sample_csv, str(tmp_path / "o.scbf"), str(tmp_path / "o.csv")],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout
    assert out.strip() == "[]"
    with open(tmp_path / "o.csv") as f:
        assert list(csv.reader(f)) == [["id"], ["1"], ["2"], ["3"]]


def test_cli_custom_to_csv_directory_names_dataframe_api(tmp_path):
    from custom_columnar_format_spark.scbf.codec import ScbfError

    with pytest.raises(ScbfError, match=r'spark\.read\.format\("scbf"\)\.load\(dir\)'):
        cli_main(["custom_to_csv", str(tmp_path), str(tmp_path / "out.csv")])
