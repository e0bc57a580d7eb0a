"""Ingest loop + bronze writer tests (SURVEY.md §2.2 K1/K4, §2.13 E1)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.sources.sinks import ingest_sources, write_bronze


def test_ingest_isolates_failures_and_reports(spark):
    root = tempfile.mkdtemp(prefix="bronze_")
    logs: list[str] = []

    def good():
        return spark.range(5).withColumn("v", F.col("id") * 2)

    def bad():
        raise RuntimeError("boom: upstream 503")

    errors = ingest_sources({"good_src": good, "bad_src": bad}, root, log=logs.append)

    assert set(errors) == {"bad_src"}
    assert "RuntimeError" in errors["bad_src"]
    # the good source landed as readable parquet despite the failure
    back = spark.read.parquet(f"{root}/good_src")
    assert back.count() == 5
    assert any("1 of 2 sources failed" in m for m in logs)


def test_write_bronze_partitioned(spark):
    root = tempfile.mkdtemp(prefix="bronze_")
    df = spark.createDataFrame(
        [("r1", "a"), ("r2", "a"), ("r3", "b")], ["id", "release"]
    )
    path = write_bronze(df, root, "src", partition_by=["release"])
    back = spark.read.parquet(path)
    assert back.count() == 3
    # partition pruning works on the layout
    pruned = back.where(F.col("release") == "a")
    assert pruned.count() == 2
    # and is visible in the physical plan: the partition predicate must be
    # a PartitionFilter (directory-level skip), not a post-scan Filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "(release" in plan.split("PartitionFilters")[1].split("]")[0]


def test_data_filter_pushed_to_parquet_scan(spark):
    sf = "/root/testdata/sf0.001"
    df = (
        spark.read.parquet(f"{sf}/orders.parquet")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_totalprice")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # predicate reaches the scan (row-group stats skipping at scale) …
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "o_orderpriority" in pushed
    # … and the scan schema is pruned to the referenced columns only
    read_schema = plan.split("ReadSchema")[1]
    assert "o_custkey" not in read_schema


def test_read_excel_by_name_and_startrow(spark):
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import read_excel
    from gene_level_metadata_pipeline_spark.sources.xlsx import sheet_names

    path = f"{fixture_dir()}/workbook.xlsx"
    assert sheet_names(path) == ["Scores", "Meta"]
    # sheet by name with startRow skipping the banner (IM:13 startRow=2)
    meta = read_excel(spark, path, sheet="Meta", skip=1)
    rows = [tuple(r) for r in meta.collect()]
    assert meta.columns == ["key", "val"]
    assert rows == [("k1", 10.0)]  # numerics uniformly double


def test_xlsx_row_gaps_preserved(spark):
    import zipfile

    from gene_level_metadata_pipeline_spark.plans.fixtures import (
        _write_min_xlsx, fixture_dir,
    )
    from gene_level_metadata_pipeline_spark.sources.xlsx import read_xlsx_rows

    W = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    src = f"{fixture_dir()}/workbook.xlsx"
    path = "/tmp/rowgap.xlsx"
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(path, "w") as zout:
        for nm in zin.namelist():
            if nm == "xl/worksheets/sheet1.xml":
                # row 2 omitted from the XML entirely (blank in Excel terms)
                zout.writestr(nm,
                    f'<worksheet xmlns="{W}"><sheetData>'
                    '<row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row>'
                    '<row r="3"><c r="A3" t="inlineStr"><is><t>x</t></is></c></row>'
                    "</sheetData></worksheet>")
            else:
                zout.writestr(nm, zin.read(nm))
    rows = read_xlsx_rows(path, sheet=0)
    # blank row preserved at index 1 (padded to the rectangular width)
    assert rows == [["h"], [None], ["x"]]


def test_engine_facade_end_to_end(spark, tmp_path):
    """The reference workflow: messy read and catalog/SQL through the
    Engine, then clean -> spine -> harmonize with the operator functions."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.engine import Engine
    from gene_level_metadata_pipeline_spark.operators.harmonize import (
        harmonize,
        spine,
    )
    from gene_level_metadata_pipeline_spark.operators.reshape import (
        separate_rows,
    )

    eng = Engine(spark)
    p = tmp_path / "hgnc.tsv"
    p.write_text(
        "# banner\nsymbol\tprev_symbol\nG1\tOLD1|OLD2\nG2\t\nG1\tOLD1|OLD2\n"
    )
    genes = eng.read_delim(str(p), sep="\t", skip=1)
    eng.put("genes", genes)
    assert eng.sql("SELECT count(*) AS n FROM genes").collect()[0].n == 3

    spn = spine(genes, "symbol")
    cleaned = separate_rows(
        genes.withColumn(
            "prev_symbol", F.when(F.col("prev_symbol") == "", None)
            .otherwise(F.col("prev_symbol"))
        ),
        "prev_symbol", r"\|",
    )
    out = harmonize(spn, cleaned, "symbol")
    rows = {(r.symbol, r.prev_symbol) for r in out.collect()}
    assert rows == {("G1", "OLD1"), ("G1", "OLD2"), ("G2", None)}


def test_json_corrupt_record_capture(spark, tmp_path):
    """PERMISSIVE schema-on-read: malformed JSONL lines land in the
    corrupt-record column instead of killing the scan — per-ROW error
    isolation complementing ingest_sources' per-SOURCE isolation (E1)."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"g": "G1", "v": 1}\n'
        "THIS IS NOT JSON\n"
        '{"g": "G2", "v": 2}\n'
    )
    df = (
        spark.read.schema("g string, v long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = {(r.g, r.v) for r in rows if r._corrupt_record is None}
    bad = [r._corrupt_record for r in rows if r._corrupt_record is not None]
    assert good == {("G1", 1), ("G2", 2)}
    assert bad == ["THIS IS NOT JSON"]


def test_csv_dropmalformed_mode(spark, tmp_path):
    p = tmp_path / "mixed.csv"
    p.write_text("g,v\nG1,1\nG2,notanumber\nG3,3\n")
    df = (
        spark.read.schema("g string, v long")
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert {(r.g, r.v) for r in df.collect()} == {("G1", 1), ("G3", 3)}


def test_json_nested_roundtrip_replaces_rds(spark, tmp_path):
    """K2: the reference's .rds escape hatch ('list so rds not parquet',
    I:219) is unnecessary — nested structs round-trip through JSON."""
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [(1, ("p1", [1, 2])), (2, ("p2", []))],
        "id int, panel struct<name:string, hits:array<int>>",
    )
    path = str(tmp_path / "nested")
    src.write.mode("overwrite").json(path)
    back = spark.read.json(path).select(
        "id", F.col("panel.name"), F.col("panel.hits")
    )
    got = {(r.id, r.name, tuple(r.hits)) for r in back.collect()}
    assert got == {(1, "p1", (1, 2)), (2, "p2", ())}


def test_custom_datasource_page_partitions(spark):
    """PageSource: one input partition per page — the parallel upgrade of
    the reference's sequential REST loop (S11)."""
    from gene_level_metadata_pipeline_spark.sources.pagesource import PageSource

    spark.dataSource.register(PageSource)
    df = (
        spark.read.format("genepages")
        .option("pages", 6).option("perpage", 10).load()
    )
    assert df.rdd.getNumPartitions() == 6
    rows = df.collect()
    assert len(rows) == 60
    assert {r.page for r in rows} == set(range(6))
    assert [r.gene for r in rows if r.record_id == 13] == ["G13"]


def test_custom_datasource_writer_two_phase_commit(spark, tmp_path):
    """PageSource write path: executors write one JSONL file per partition,
    the driver's commit() publishes _MANIFEST — the success marker a failed
    job never writes (FileCommitProtocol semantics in the Python API)."""
    import json
    import os

    from gene_level_metadata_pipeline_spark.sources.pagesource import PageSource

    spark.dataSource.register(PageSource)
    df = (
        spark.read.format("genepages")
        .option("pages", 4).option("perpage", 5).load()
    )
    out = str(tmp_path / "sink")
    df.write.format("genepages").option("path", out).mode("overwrite").save()

    with open(os.path.join(out, "_MANIFEST"), encoding="utf-8") as f:
        manifest = json.load(f)
    assert manifest["rows"] == 20
    assert len(manifest["files"]) == 4  # one data file per input partition
    assert all(os.path.exists(p) for p in manifest["files"])

    back = [
        json.loads(line)
        for p in manifest["files"]
        for line in open(p, encoding="utf-8")
    ]
    assert {(r["page"], r["record_id"]) for r in back} == {
        (r.page, r.record_id) for r in df.collect()
    }

    # overwrite replaces the previous sink contents wholesale
    df.limit(0).write.format("genepages").option("path", out).mode(
        "overwrite"
    ).save()
    with open(os.path.join(out, "_MANIFEST"), encoding="utf-8") as f:
        assert json.load(f)["rows"] == 0


def test_custom_datasource_stream_writer_per_batch_manifests(spark, tmp_path):
    """PageSource streaming sink: one _MANIFEST-<batchId> per micro-batch,
    published only by the driver's commit — files a manifest doesn't
    reference are invisible, so replayed batches can't duplicate."""
    import glob
    import json
    import os
    import time

    from gene_level_metadata_pipeline_spark.sources.pagesource import PageSource

    spark.dataSource.register(PageSource)
    out = str(tmp_path / "stream_sink")
    q = (
        spark.readStream.format("genepages")
        .option("pages", 3).option("perpage", 25).load()
        .writeStream.format("genepages")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if len(glob.glob(os.path.join(out, "_MANIFEST-*"))) >= 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()

    manifests = [
        json.load(open(p, encoding="utf-8"))
        for p in sorted(glob.glob(os.path.join(out, "_MANIFEST-*")))[:3]
    ]
    assert [m["batch"] for m in manifests] == [0, 1, 2]
    rows = [
        json.loads(line)
        for m in manifests
        for p in m["files"]
        for line in open(p, encoding="utf-8")
    ]
    # one page per micro-batch, 25 records each, no dups and no gaps
    assert sorted(r["record_id"] for r in rows) == list(range(75))
    assert {r["page"] for r in rows} == {0, 1, 2}

    # a second commit for an already-manifested batch is a no-op
    class _M:
        def __init__(self, file, count):
            self.file, self.count = file, count

    from gene_level_metadata_pipeline_spark.sources.pagesource import (
        _PageStreamWriter,
    )

    w = _PageStreamWriter({"path": out})
    stray = os.path.join(out, "stage-replay.jsonl")
    open(stray, "w").close()
    before = json.load(
        open(os.path.join(out, "_MANIFEST-0"), encoding="utf-8")
    )
    w.commit([_M(stray, 1)], 0)
    after = json.load(
        open(os.path.join(out, "_MANIFEST-0"), encoding="utf-8")
    )
    assert after == before  # first attempt kept
    assert not os.path.exists(stray)  # replay's staged file cleaned up


def test_normalize_event_ts_rejects_schema_drift(spark):
    """Unexpected physical ts types must fail at the normalization
    boundary with a clear message, not downstream (ADVICE r1)."""
    import pytest

    from gene_level_metadata_pipeline_spark.sources.readers import (
        normalize_event_ts,
    )

    drifted = spark.createDataFrame([("2024-01-01",)], "ts string")
    with pytest.raises(TypeError, match="normalize_event_ts.*unsupported"):
        normalize_event_ts(drifted)

    ok = spark.createDataFrame([(1_700_000_000_000_000_000,)], "ts long")
    assert normalize_event_ts(ok).schema["ts"].dataType.simpleString() == "timestamp"


def test_row_order_ops_guard(spark):
    """Row-order ops enforce the ingest-edge contract (VERDICT r1 item 7):
    shuffled inputs raise; small unshuffled inputs pass."""
    import pytest

    from gene_level_metadata_pipeline_spark.operators.headers import (
        promote_first_row_to_header,
        with_row_id,
    )

    ok = spark.createDataFrame(
        [("gene", "score"), ("G1", "0.5")], ["X1", "X2"]
    )
    out = promote_first_row_to_header(ok)
    assert out.columns == ["gene", "score"]

    shuffled = ok.repartition(4)
    with pytest.raises(ValueError, match="shuffle"):
        with_row_id(shuffled)

    grouped = ok.groupBy("X1").count()
    with pytest.raises(ValueError, match="shuffle"):
        promote_first_row_to_header(grouped)


def test_row_order_ops_allow_broadcast_decorated_frames(spark):
    """BroadcastExchange is not a shuffle: a small ingest frame decorated
    by a broadcast join keeps probe-side file order and must stay legal
    for row-order ops; only shuffle Exchanges reject (ADVICE r2)."""
    import pytest
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.headers import with_row_id

    ingest = spark.createDataFrame(
        [("G1", "a"), ("G2", "b")], ["sym", "v"]
    )
    dim = spark.createDataFrame([("a", "alpha"), ("b", "beta")], ["v", "name"])
    decorated = ingest.join(F.broadcast(dim), "v", "left")
    plan = decorated._jdf.queryExecution().executedPlan().toString()
    if "BroadcastExchange" in plan:  # guard the premise, not just the call
        out = with_row_id(decorated)
        assert out.count() == 2

    with pytest.raises(ValueError, match="shuffle"):
        with_row_id(ingest.join(dim, "v"))  # SMJ/shuffle path


def test_read_delim_whitespace_runs(spark, tmp_path):
    """S6: sep=None mirrors R read.table — any RUN of whitespace (mixed
    spaces/tabs, uneven widths) separates fields; blank lines skipped;
    header + schema inference behave like the single-char path."""
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    p = tmp_path / "gnomad_like.txt"
    p.write_text(
        "gene   transcript\tpLI\n"
        "BRCA1     ENST0001   0.01\n"
        "\n"
        "TP53\t\tENST0002\t 0.99\n"
    )
    df = read_delim(spark, str(p), sep=None)
    assert df.columns == ["gene", "transcript", "pLI"]
    rows = {r["gene"]: (r["transcript"], r["pLI"]) for r in df.collect()}
    assert rows == {"BRCA1": ("ENST0001", 0.01), "TP53": ("ENST0002", 0.99)}

    # headerless + skip compose with the whitespace path
    q = tmp_path / "nohdr.txt"
    q.write_text("# banner\na b 1\nc d 2\n")
    df2 = read_delim(spark, str(q), sep=None, header=False, skip=1)
    assert df2.columns == ["V1", "V2", "V3"]
    assert df2.count() == 2


def test_read_delim_whitespace_unbalanced_quote_raises(spark, tmp_path):
    """S6 fail-loud contract (r3 ADVICE): an unbalanced double quote
    would make the quote-aware tokenizer silently merge fields across
    whitespace to the next quote later on the line; R's read.table
    raises 'EOF within quoted string' instead — so do we. Balanced
    quoted fields (including interior whitespace) still parse."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    good = tmp_path / "balanced.txt"
    good.write_text('gene desc score\ng1 "tumor suppressor" 0.5\n')
    df = read_delim(spark, str(good), sep=None)
    assert [tuple(r) for r in df.collect()] == [("g1", "tumor suppressor", 0.5)]

    bad = tmp_path / "unbalanced.txt"
    bad.write_text('gene desc score\ng1 "tumor suppressor 0.5\n')
    with pytest.raises(SparkRuntimeException, match="EOF within quoted string"):
        read_delim(spark, str(bad), sep=None).collect()


def _rdd_lineage(df):
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_read_delim_skip_keeps_file_order_across_splits(spark, tmp_path):
    """skip=N reads single-partition and relies on the coalesced text
    scan, not a sort, for file order: with the file cut into many input
    splits the header is still the line after the banner and the rows
    come back in file order."""
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    p = tmp_path / "banner.tsv"
    p.write_text(
        "# banner 1\n# banner 2\nid\tval\n"
        + "".join(f"{i}\tv{i}\n" for i in range(300))
    )
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "256")
    try:
        assert spark.read.text(str(p)).rdd.getNumPartitions() >= 3
        df = read_delim(spark, str(p), sep="\t", skip=2)
        assert df.columns == ["id", "val"]
        assert [(r.id, r.val) for r in df.collect()] == [
            (i, f"v{i}") for i in range(300)
        ]
    finally:
        spark.conf.set(key, old)


def test_read_delim_reparse_stays_in_jvm(spark, tmp_path):
    """skip>0 and sep=None re-parse their lines through the JVM
    ``csv(Dataset[String])``: no Python worker in the lineage."""
    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    skip_file = tmp_path / "skip.tsv"
    skip_file.write_text("# banner\na\tb\n1\tx\n2\ty\n")
    ws_file = tmp_path / "ws.txt"
    ws_file.write_text("a   b\n1 'x y'\n\n2\ty\n")
    for df in (
        read_delim(spark, str(skip_file), sep="\t", skip=1),
        read_delim(spark, str(ws_file), sep=None),
    ):
        assert "PythonRDD" not in _rdd_lineage(df)
        assert df.first()[0] == 1


def test_read_delim_multiline_rejects_line_reparse(spark, tmp_path):
    """multiline quoted records cannot go through the line re-parse:
    skip>0 or sep=None with multiline raises before any read."""
    import pytest

    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    p = tmp_path / "ml.csv"
    p.write_text('a,b\n1,"x\ny"\n')
    with pytest.raises(ValueError, match="multiline"):
        read_delim(spark, str(p), sep=",", skip=1, multiline=True)
    with pytest.raises(ValueError, match="multiline"):
        read_delim(spark, str(p), sep=None, multiline=True)
    df = read_delim(spark, str(p), sep=",", multiline=True)
    assert [tuple(r) for r in df.collect()] == [(1, "x\ny")]


def test_read_delim_zip_extracts_once(spark, tmp_path, monkeypatch):
    """Repeated reads of one unchanged .zip reuse a single extraction
    instead of leaving a fresh copy behind per read."""
    import zipfile

    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    z = tmp_path / "genes.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("genes.tsv", "symbol\tn\nG1\t1\nG2\t2\n")
    first = read_delim(spark, str(z)).collect()
    second = read_delim(spark, str(z)).collect()
    assert [tuple(r) for r in first] == [("G1", 1), ("G2", 2)]
    assert second == first
    extracted = list((tmp_path / "tmp").glob("spark_graft_unzip_*"))
    assert len(extracted) == 1
    assert [p.name for p in extracted[0].iterdir()] == ["genes.tsv"]


def test_read_delim_zip_skips_directory_entries(spark, tmp_path, monkeypatch):
    """A ``zip -r`` archive of a folder lists the folder first; the reader
    extracts the first file member, not the directory entry."""
    import zipfile

    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    z = tmp_path / "folder.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("data/", "")
        zf.writestr("data/x.tsv", "symbol\tn\nG1\t1\nG2\t2\n")
    assert zipfile.ZipFile(z).namelist() == ["data/", "data/x.tsv"]
    df = read_delim(spark, str(z))
    assert [tuple(r) for r in df.collect()] == [("G1", 1), ("G2", 2)]


def test_read_delim_zip_without_file_member_raises(spark, tmp_path, monkeypatch):
    """An archive holding only directories fails loudly, naming the archive."""
    import zipfile

    import pytest

    from gene_level_metadata_pipeline_spark.sources.readers import read_delim

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    z = tmp_path / "empty_dirs.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("data/", "")
        zf.writestr("data/sub/", "")
    with pytest.raises(ValueError, match="empty_dirs.zip"):
        read_delim(spark, str(z))


def test_fetch_to_staging_round_trip(tmp_path):
    """A staged fetch copies the source bytes unchanged (file:// URL)."""
    from gene_level_metadata_pipeline_spark.sources.readers import (
        fetch_to_staging,
    )

    src = tmp_path / "src" / "constraint.txt.gz"
    src.parent.mkdir()
    payload = bytes(range(256)) * 4096  # 1 MiB, several read chunks
    src.write_bytes(payload)
    dest = fetch_to_staging(src.as_uri(), str(tmp_path / "stage"))
    assert dest == str(tmp_path / "stage" / "constraint.txt.gz")
    with open(dest, "rb") as f:
        assert f.read() == payload


def _xlsx_with_sheet(tmp_path, rows_xml: str) -> str:
    """The fixture workbook with its first sheet replaced by ``rows_xml``."""
    import zipfile

    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir

    W = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    path = str(tmp_path / "sheet.xlsx")
    with zipfile.ZipFile(f"{fixture_dir()}/workbook.xlsx") as zin, \
            zipfile.ZipFile(path, "w") as zout:
        for nm in zin.namelist():
            if nm == "xl/worksheets/sheet1.xml":
                zout.writestr(nm, f'<worksheet xmlns="{W}"><sheetData>'
                                  f"{rows_xml}</sheetData></worksheet>")
            else:
                zout.writestr(nm, zin.read(nm))
    return path


def _s(ref, text):
    return f'<c r="{ref}" t="inlineStr"><is><t>{text}</t></is></c>'


def test_xlsx_arrow_handoff_matches_row_inference(spark, tmp_path):
    """The stdlib xlsx branch ships rows as Arrow, typed by Spark's own row
    inference: same schema and rows as ``createDataFrame(rows, header)``,
    and no Python worker in the lineage."""
    from gene_level_metadata_pipeline_spark.sources.readers import (
        _create_via_arrow, read_excel,
    )

    header = ["s", "i", "f", "b", "n"]
    rows = [["a", 1, 1.5, True, None], [None, 2, None, False, "x"]]
    got = _create_via_arrow(spark, rows, header)
    want = spark.createDataFrame(rows, schema=header)
    assert got.schema == want.schema
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    path = _xlsx_with_sheet(
        tmp_path,
        f'<row r="1">{_s("A1", "gene")}{_s("B1", "score")}{_s("C1", "ok")}</row>'
        f'<row r="2">{_s("A2", "g1")}<c r="B2"><v>2</v></c>'
        '<c r="C2" t="b"><v>1</v></c></row>'
        f'<row r="3">{_s("A3", "g2")}<c r="C3" t="b"><v>0</v></c></row>',
    )
    df = read_excel(spark, path)
    assert df.schema.simpleString() == "struct<gene:string,score:double,ok:boolean>"
    assert [tuple(r) for r in df.collect()] == [("g1", 2.0, True), ("g2", None, False)]
    assert "PythonRDD" not in _rdd_lineage(df)


def test_xlsx_all_empty_column_and_header_only(spark, tmp_path):
    """An all-empty column still fails type inference (not a ``void``
    column, which plain Arrow inference would give); a header-only sheet
    is still the empty all-string frame."""
    import pytest
    from pyspark.errors import PySparkValueError

    from gene_level_metadata_pipeline_spark.sources.readers import read_excel

    empty_col = _xlsx_with_sheet(
        tmp_path,
        f'<row r="1">{_s("A1", "gene")}{_s("B1", "blank")}</row>'
        f'<row r="2">{_s("A2", "g1")}</row>',
    )
    with pytest.raises(PySparkValueError, match="CANNOT_DETERMINE_TYPE"):
        read_excel(spark, empty_col)

    header_only = _xlsx_with_sheet(
        tmp_path, f'<row r="1">{_s("A1", "gene")}{_s("B1", "score")}</row>'
    )
    df = read_excel(spark, header_only)
    assert df.schema.simpleString() == "struct<gene:string,score:string>"
    assert df.count() == 0


def test_pipeline_config_env_and_masking(monkeypatch):
    """E2: secrets resolve from env with placeholder-default semantics
    (empty string == unset, like the reference's gitignored overrides);
    repr masks them; require() raises a clear error when absent."""
    import pytest

    from gene_level_metadata_pipeline_spark.config import PipelineConfig

    monkeypatch.delenv("OMIM_API_KEY", raising=False)
    monkeypatch.setenv("LETHAL_GENES_TOKEN", "")  # empty == unset
    cfg = PipelineConfig()
    assert cfg.omim_api_key is None
    assert cfg.lethal_genes_token is None
    assert cfg.impc_release_version == "22.1"  # reference pin I:16
    with pytest.raises(RuntimeError, match="OMIM_API_KEY"):
        cfg.require("omim_api_key")

    monkeypatch.setenv("OMIM_API_KEY", "sekret")
    monkeypatch.setenv("IMPC_RELEASE_VERSION", "23.0")
    cfg2 = PipelineConfig()
    assert cfg2.require("omim_api_key") == "sekret"
    assert cfg2.impc_release_version == "23.0"
    assert "sekret" not in repr(cfg2) and "***" in repr(cfg2)


def test_engine_facade_curation_path(spark):
    """The curation workflow: near-dup pairs -> canonical representative
    per cluster."""
    from gene_level_metadata_pipeline_spark.operators.dedup import (
        near_dup_pairs,
    )
    from gene_level_metadata_pipeline_spark.operators.graph import (
        canonicalize_duplicates,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "an entirely different document about spark shuffles"),
        ],
        "doc_id bigint, text string",
    )
    pairs = near_dup_pairs(docs, "text", "doc_id", threshold=0.3)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == {(1, 2)}
    canon = {
        (r.doc_id, r.canonical_id)
        for r in canonicalize_duplicates(docs, pairs).collect()
    }
    assert canon == {(1, 1), (2, 1), (3, 3)}


def test_read_binary_assets_feeds_multimodal_contract(spark):
    """binaryFile ingestion composes with the Arrow featurizer: glob
    excludes the decoy at listing time, payload bytes stay executor-side,
    and extract_features consumes the contract unchanged."""
    from pyspark.sql import functions as F

    from gene_level_metadata_pipeline_spark.operators.multimodal import (
        extract_features,
    )
    from gene_level_metadata_pipeline_spark.plans.fixtures import fixture_dir
    from gene_level_metadata_pipeline_spark.sources.readers import (
        read_binary_assets,
    )

    assets = read_binary_assets(
        spark, f"{fixture_dir()}/assets", glob="*.bin", modality="image/fake"
    )
    rows = {r.asset_id: r for r in assets.collect()}
    assert set(rows) == {"img_a.bin", "img_b.bin"}  # notes.txt excluded
    assert rows["img_a.bin"].meta.n_bytes == 16
    assert bytes(rows["img_a.bin"].payload) == bytes(range(16))

    feats = extract_features(
        assets.withColumn("doc_id", F.xxhash64("asset_id")), "doc_id"
    )
    got = {r.n_bytes: r for r in feats.collect()}
    assert got[16].checksum == sum(range(16))
    assert got[16].head_bytes == [0, 1, 2, 3]
    assert got[40].head_bytes == [0x89, ord("F"), ord("A"), ord("K")]
