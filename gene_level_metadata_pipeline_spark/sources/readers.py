"""Messy-ingestion readers (SURVEY.md §2.1 S1–S11, §7 Phase 5).

This is where Spark genuinely lacks built-ins and the engine earns its keep:
skip-N headers, headerless positional columns, zip-wrapped TSVs, Excel
sheets, paginated JSON. Every reader returns a plain DataFrame; the messy
part happens once at the ingest edge, after which everything is columnar
and lazy.

Scale stance: these readers target the reference's *source-file* shapes —
single small-to-medium files fetched from the network (the reference's
largest is the ~18k×1.1k DepMap matrix). Fact-table-scale data arrives as
Parquet (S10) and never passes through here. Where a reader must impose a
row order (skip-N, promote-header) it reads the file single-partition —
correct for source files; deliberately not a fact-table path.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import urllib.request
import zipfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "fetch_to_staging",
    "read_delim",
    "read_excel",
    "read_json_pages",
    "normalize_event_ts",
    "ts_from_nanos",
    "read_xml",
    "read_binary_assets",
]


def ts_from_nanos(col):
    """Nanosecond-long → microsecond timestamp.

    Spark 4 cannot read parquet TIMESTAMP(NANOS) natively; with
    ``spark.sql.legacy.parquet.nanosAsLong`` (set by session.get_spark) the
    column arrives as int64 nanos. Integer-dividing by 1000 truncates to
    micros — bit-identical to how DuckDB ingests the same column.
    """
    c = F.col(col) if isinstance(col, str) else col
    # exact integer division: ~1.7e18 nanos exceeds double's 2^53 integer
    # range, so float `/` would corrupt low digits — go through decimal,
    # whose quotient is exact, then truncate like DuckDB does
    micros = (c.cast("decimal(20,0)") / F.lit(1000)).cast("long")
    return F.timestamp_micros(micros)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP_LTZ micros, whatever
    physical type the parquet carries.

    The testdata generator has shipped ``events.ts`` as both TIMESTAMP(NANOS)
    (surfaced as int64 under nanosAsLong) and plain ``timestamp[us]``
    (surfaced as TIMESTAMP_NTZ). Downstream queries assume one canonical
    type — TIMESTAMP_LTZ rendered under a UTC session (set by the callers),
    which coincides micro-for-micro with DuckDB's naive timestamps:

      * long        → nanos: exact decimal division to micros (ts_from_nanos)
      * TIMESTAMP_NTZ → cast to LTZ: under a UTC session the underlying
        micros are unchanged (wall-clock reinterpretation is the identity)
      * TIMESTAMP_LTZ → already canonical
    """
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, ts_from_nanos(col))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if not isinstance(dt, T.TimestampType):
        raise TypeError(
            f"normalize_event_ts: column {col!r} has unsupported type "
            f"{dt.simpleString()}; expected long (nanos), timestamp_ntz, "
            "or timestamp — generator schema drift should fail here, not "
            "downstream"
        )
    return df


def fetch_to_staging(url: str, staging_dir: str | None = None) -> str:
    """S1/S3: driver-side HTTP(S)/FTP fetch to a local staging path.

    Network I/O is not Spark's job (reference does it with read.delim(url),
    I:29); the engine stages once, then Spark reads the staged file. Returns
    the staged path.
    """
    staging_dir = staging_dir or tempfile.mkdtemp(prefix="spark_graft_stage_")
    os.makedirs(staging_dir, exist_ok=True)
    name = url.rstrip("/").rsplit("/", 1)[-1] or "fetched"
    dest = os.path.join(staging_dir, name)
    with urllib.request.urlopen(url) as resp, open(dest, "wb") as out:  # noqa: S310
        shutil.copyfileobj(resp, out)  # streamed: downloads can be GBs
    return dest


def _maybe_unzip(path: str) -> str:
    """S7: ``readr::read_tsv('*.zip')`` transparently unzips (IW:22-23).

    The first file member is extracted once per archive version (directory
    entries, as ``zip -r`` writes for a folder, are skipped): the staging
    dir is keyed on the archive's resolved path, size and mtime, so later
    reads of an unchanged archive reuse the extracted file instead of
    leaving a fresh copy behind each time. The member is written to a
    temp file and renamed into place, so a concurrent reader never sees a
    partial file. gz needs no handling (Spark reads .gz natively).
    """
    if not path.endswith(".zip"):
        return path
    real = os.path.realpath(path)
    st = os.stat(real)
    key = hashlib.sha256(
        f"{real}\0{st.st_size}\0{st.st_mtime_ns}".encode()
    ).hexdigest()[:16]
    out_dir = os.path.join(tempfile.gettempdir(), f"spark_graft_unzip_{key}")
    with zipfile.ZipFile(real) as zf:
        member = next((i.filename for i in zf.infolist() if not i.is_dir()), None)
        if member is None:
            raise ValueError(f"{path}: zip archive holds no file member")
        # basename only: a member name must not escape the staging dir
        dest = os.path.join(out_dir, os.path.basename(member))
        if os.path.exists(dest):
            return dest
        os.makedirs(out_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=out_dir, prefix=".partial-")
        try:
            with os.fdopen(fd, "wb") as out, zf.open(member) as src:
                shutil.copyfileobj(src, out)
            os.replace(tmp, dest)
        except BaseException:
            os.unlink(tmp)
            raise
    return dest


def _file_lines(spark: SparkSession, path: str) -> DataFrame:
    """The file's lines in file order, with a 0-based line number ``__i``.

    ``coalesce(1)`` folds the text scan's splits, in offset order, into one
    partition, so ``monotonically_increasing_id`` numbers lines in file
    order and every later pass over the frame sees them in that order —
    no sort needed.
    """
    text = spark.read.text(path).coalesce(1)
    return text.withColumn("__i", F.monotonically_increasing_id())


def _csv_from_lines(spark: SparkSession, lines: DataFrame, **opts: str | bool) -> DataFrame:
    """Parse a one-string-column frame of CSV lines with Spark's CSV reader.

    The frame is cast to ``Dataset[String]`` and handed to the JVM
    ``DataFrameReader.csv(Dataset[String])``, so the lines never leave the
    JVM: PySpark's ``csv(RDD[str])`` would instead pickle every line
    through a Python worker on each of the reader's passes (header
    ``take(1)``, schema inference, the final scan).
    """
    jds = getattr(lines._jdf, "as")(spark._jvm.Encoders.STRING())
    reader = spark.read.options(**opts)
    return DataFrame(reader._jreader.csv(jds), spark)


def _whitespace_fields(line: Column) -> Column:
    """One line split by R ``read.table``'s default rule, fields tab-joined.

    Quote-aware: a naive ``regexp_replace('\\s+', '\\t')`` would rewrite the
    INSIDE of quoted fields, where read.table keeps
    ``g1 "tumor suppressor" 0.5`` as three fields. Tokens are ``"..."``,
    ``'...'`` or bare runs; single-quoted tokens are re-quoted double so
    the CSV parser strips them identically.

    Unbalanced double quotes fail LOUD like R's read.table ("EOF within
    quoted string"): with an odd quote count the ``"[^"]*"`` alternative
    would silently span whitespace to the NEXT quote anywhere later on the
    line, merging fields into one token — a wrong-shape row is worse than
    an error at the ingest edge. (The check also rejects a double quote
    embedded in a single-quoted field, a documented unsupported corner.)
    """
    n_dq = F.length(line) - F.length(F.regexp_replace(line, '"', ""))
    checked = F.when(
        n_dq % 2 == 1,
        F.raise_error(
            F.concat(
                F.lit(
                    "read_delim(sep=None): unbalanced double quote "
                    "(EOF within quoted string, as R's read.table "
                    "raises) in line: "
                ),
                line,
            )
        ),
    ).otherwise(line)
    toks = F.regexp_extract_all(checked, F.lit("\"[^\"]*\"|'[^']*'|\\S+"), 0)
    requoted = F.transform(
        toks,
        lambda t: F.when(
            t.rlike("^'.*'$"),
            F.concat(
                F.lit('"'), t.substr(F.lit(2), F.length(t) - 2), F.lit('"')
            ),
        ).otherwise(t),
    )
    return F.array_join(requoted, "\t")


def read_delim(
    spark: SparkSession,
    path: str,
    sep: str | None = "\t",
    header: bool = True,
    skip: int = 0,
    infer_schema: bool = True,
    multiline: bool = False,
) -> DataFrame:
    """Delimited-file reader with the reference's quirks (S2–S8).

    Two paths: a line re-parse when the file needs line-level work
    (``skip > 0`` or ``sep=None``), a plain Spark CSV file scan otherwise.

    * ``skip=N`` — drop N banner lines before the header (OMIM files,
      I:167-181; Spark CSV has no skipRows). Implemented by reading as text
      single-partition, filtering on a file-order row id and re-parsing
      the remaining lines with Spark's CSV reader over a JVM
      ``Dataset[String]`` — no Python worker, no sort (the single
      partition already yields file order). Single-partition is correct
      here: every skip-N source in the reference is one small fetched file.
    * ``header=False`` — columns named ``V1..Vn`` matching R's
      ``fread(header=FALSE)`` (S4, I:117-120) so positional consumers
      (``select(7,5)`` → ``V7``,``V5``, T:251) port verbatim.
    * ``.zip`` transparently extracted (S7); ``.gz`` handled by Spark.
    * ``sep=None`` — S6, R ``read.table`` default: ANY run of whitespace
      separates fields, blank lines are skipped, and QUOTED fields keep
      their interior whitespace (IW:19 reads gnomAD constraint metrics
      this way). Each line is tokenized by :func:`_whitespace_fields`
      (R's ``quote = "\\"'"`` default) into tab-joined fields, then the
      same line re-parse as ``skip`` takes over, so header naming and
      schema inference are identical to the single-char path. Lines with
      an UNBALANCED double quote raise at read time ("EOF within quoted
      string", matching R's read.table) instead of silently merging
      fields. Ingest-edge files only; a whitespace FACT table should be
      normalized once at ingest, not re-split per query.
    * ``multiline=True`` — RFC-4180 quoted fields containing embedded
      newlines and escaped ``""`` quotes (R's readers handle these by
      default; Spark needs ``multiLine``). Scale caveat: a multiLine CSV
      file is NOT splittable — one file = one task — so use it only for
      the small messy sources it exists for, never a fact table.
      Incompatible with ``skip`` and ``sep=None`` (a line-oriented
      re-parse would cut quoted records in half): raises ``ValueError``.
    """
    line_reparse = skip > 0 or sep is None
    if multiline and line_reparse:
        raise ValueError(
            "read_delim: multiline quoted records are incompatible with "
            f"line-oriented re-parsing (skip={skip}, sep={sep!r})"
        )
    path = _maybe_unzip(path)
    opts = {"sep": "\t" if sep is None else sep, "header": header,
            "inferSchema": infer_schema}
    if line_reparse:
        lines = _file_lines(spark, path).where(F.col("__i") >= skip)
        if sep is None:
            lines = lines.select(
                _whitespace_fields(F.col("value")).alias("value")
            ).where(F.col("value") != "")  # read.table drops blank lines
        else:
            lines = lines.select("value")
        df = _csv_from_lines(spark, lines, **opts)
    else:
        if multiline:  # RFC-4180 "" escaping, as R reads it
            opts.update(multiLine=True, escape='"')
        df = spark.read.options(**opts).csv(path)
    if not header:
        df = df.toDF(*[f"V{i + 1}" for i in range(len(df.columns))])
    return df


def read_excel(
    spark: SparkSession,
    path: str,
    sheet: int | str = 0,
    skip: int = 0,
) -> DataFrame:
    """S9: Excel sheet → DataFrame (IM:9-27).

    Excel sources in the reference are small manuscript supplements — a
    driver-side parse + ``createDataFrame`` is the right scale trade-off.
    ``sheet`` by index or name; ``skip`` mirrors openxlsx ``startRow-1``.
    The sheet is parsed by the pure-stdlib xlsx reader (``sources.xlsx``:
    zipped XML needs no external engine), which reads every numeric cell
    as a double, so a workbook yields the same schema on every machine.
    First post-skip row is the header, matching ``openxlsx::read.xlsx``.

    Columns are typed with Spark's own row inference (the schema, and
    errors such as ``CANNOT_DETERMINE_TYPE`` for an all-empty column, are
    those of ``createDataFrame(rows, header)``), then the rows are handed
    over as one ``pyarrow.Table`` of that schema: the JVM holds the data
    as Arrow batches, so the bronze write runs no Python worker, where a
    list of rows would be pickled into a Python RDD.
    """
    from gene_level_metadata_pipeline_spark.sources.xlsx import read_xlsx_rows

    rows = read_xlsx_rows(path, sheet=sheet, skip=skip)
    if not rows:
        raise ValueError(f"read_excel: empty sheet {sheet!r} in {path}")
    header = [str(h) for h in rows[0]]
    body = rows[1:]
    if not body:  # header-only sheet: empty frame, all-string schema
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType([StructField(h, StringType()) for h in header])
        return spark.createDataFrame([], schema=schema)
    return _create_via_arrow(spark, body, header)


def _create_via_arrow(spark: SparkSession, rows: list[list], header: list[str]) -> DataFrame:
    """``createDataFrame(rows, schema=header)`` with the rows shipped as Arrow."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = spark._inferSchemaFromList(rows, names=header)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([r[i] for r in rows], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


def read_json_pages(
    spark: SparkSession,
    pages: list[str] | str,
    flatten_kv: bool = False,
    record_id: str = "__record_id",
) -> DataFrame:
    """S11: paginated JSON REST → DataFrame (PanelApp loop, I:211-218).

    ``pages`` is a list of staged JSONL/JSON files (or a glob). The
    idiomatic form keeps nested structs (spark.read.json); with
    ``flatten_kv=True`` the result is exploded to long ``(record_id, name,
    value)`` pairs mirroring the reference's ``enframe(unlist(json))`` —
    with a record id carried through so the downstream KV pivot (R3) is
    order-independent instead of positionally aligned (T:454-484).
    """
    df = spark.read.json(pages if isinstance(pages, str) else list(pages))
    if not flatten_kv:
        return df
    df = df.withColumn(record_id, F.monotonically_increasing_id())
    flat_cols = _flatten_struct_columns(df, exclude={record_id})
    kv = F.explode(
        F.map_from_arrays(
            F.array(*[F.lit(name) for name, _ in flat_cols]),
            F.array(*[expr.cast("string") for _, expr in flat_cols]),
        )
    ).alias("name", "value")
    return df.select(record_id, kv)


def _flatten_struct_columns(df: DataFrame, exclude: set[str]) -> list[tuple[str, F.Column]]:
    """Dotted-path leaf columns of possibly-nested struct schema."""
    out: list[tuple[str, F.Column]] = []

    def walk(prefix: str, dtype, expr):
        from pyspark.sql.types import StructType

        if isinstance(dtype, StructType):
            for f in dtype.fields:
                walk(f"{prefix}.{f.name}" if prefix else f.name,
                     f.dataType, expr[f.name])
        else:
            out.append((prefix, expr))

    for field in df.schema.fields:
        if field.name in exclude:
            continue
        walk(field.name, field.dataType, F.col(field.name))
    return out


def read_xml(spark, path: str, row_tag: str):
    """XML scan (scan-family extension beyond the reference's S1–S14;
    Spark 4 ships the former spark-xml as a native source). Schema is
    inferred per row-tag; missing child elements surface as NULL —
    matching the NULL-padding the delimited readers produce for short
    rows. For 100 TB exports prefer an explicit ``.schema(...)`` to skip
    the inference scan."""
    return spark.read.format("xml").option("rowTag", row_tag).load(path)


def read_binary_assets(
    spark,
    path: str,
    glob: str | None = None,
    modality: str = "application/octet-stream",
) -> DataFrame:
    """Raw media ingestion via Spark's native ``binaryFile`` source — the
    real-world entry into the multimodal payload contract
    (operators/multimodal.py): one row per file, payload bytes never
    touching the driver.

    Returns (asset_id, payload, meta struct<modality, n_bytes>) — the
    exact shape ``attach_binary_payload`` fakes from text, so
    ``extract_features`` / ``sample_frames`` compose directly.
    ``modificationTime`` is dropped (nondeterministic across copies of
    the same dataset); ``asset_id`` is the file basename. ``glob``
    filters at the LISTING level (``pathGlobFilter``), so excluded files
    are never opened — at 100 TB of mixed object-store keys that is the
    difference between listing and reading.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("asset_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit(modality).alias("modality"),
            F.col("length").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
