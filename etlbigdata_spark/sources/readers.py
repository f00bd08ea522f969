"""Source readers (SURVEY §2 A1-A5, B26).

The reference parses every upload driver-side with pandas
(``/root/reference/simple_etl.py:69-74``) and lists MySQL tables via
SQLAlchemy (``simple_etl.py:99-108``).  Here every scalable format goes
through the Spark reader (distributed scan, predicate pushdown, column
pruning); pandas remains only for Excel, which has no JVM-native reader
without third-party JARs and is small-file by nature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str, **opts) -> DataFrame:
    """Columnar scan; filters/projection push into the parquet reader (A3)."""
    return spark.read.options(**opts).parquet(path)


def read_parquet_since(
    spark: SparkSession, path: str, modified_after: str, fmt: str = "parquet", **opts
) -> DataFrame:
    """Batch-incremental file pickup (A3+): scan only files whose
    modification time is STRICTLY after ``modified_after``
    ("YYYY-MM-DDTHH:MM:SS", local TZ unless an offset is given) — the
    generic file source's ``modifiedAfter`` listing filter, applied at
    FILE-LISTING time, so old files are never opened, not just
    filtered.  The poor-man's incremental ingest between full loads
    when a streaming checkpoint is not in play: record the watermark
    you processed to, pass it here next run (a file landing with an
    mtime at-or-before a recorded watermark is missed — the classic
    mtime-watermark race; use the Structured Streaming file source's
    checkpointed listing when that matters).  Composes with pushdown
    exactly like :func:`read_parquet`.  Pass ``schema=`` to skip
    inference; otherwise the schema is inferred from the UNFILTERED
    directory (one footer read) so a pickup that matches zero files
    returns an empty frame with the right schema instead of failing
    inference."""
    schema = opts.pop("schema", None)
    if schema is None:
        schema = spark.read.format(fmt).options(**opts).load(path).schema
    return (
        spark.read.schema(schema)
        .options(modifiedAfter=modified_after, **opts)
        .format(fmt)
        .load(path)
    )


def read_orc(spark: SparkSession, path: str, **opts) -> DataFrame:
    """ORC scan (A3 sibling — the other columnar lake format Spark reads
    natively; same pushdown/pruning machinery as parquet)."""
    return spark.read.options(**opts).orc(path)


def read_text(spark: SparkSession, path: str, whole_text: bool = False, **opts) -> DataFrame:
    """Line-text source: one row per line (``value`` string), or one row
    per FILE with ``whole_text`` — the raw-corpus ingestion shape for
    document pipelines."""
    return spark.read.options(**opts).text(path, wholetext=whole_text)


def _is_buffer(src) -> bool:
    """True for in-memory sources: bytes or file-like objects."""
    return isinstance(src, (bytes, bytearray)) or hasattr(src, "read")


def read_csv(
    spark: SparkSession,
    path,
    header: bool = True,
    infer_schema: bool = True,
    schema: T.StructType | None = None,
    all_strings: bool = False,
    **opts,
) -> DataFrame:
    """CSV scan (A1).

    ``path`` may be a filesystem path/glob (distributed Spark scan — the
    scale path) or an in-memory buffer (``bytes`` / file-like, the
    reference's upload path ``simple_etl.py:62-70``). A buffer is by
    definition driver-resident and upload-sized, so it parses driver-side
    with pandas and enters Spark via ``createDataFrame`` — same semantics,
    documented small-data-only.

    ``all_strings=True`` reproduces the reference's dirty-data fallback
    (``simple_etl.py:168-169``: coerce whole table to str) as an explicit
    opt-in instead of a silent rescue.

    Buffer mode honors the common Spark CSV options (``sep``/``delimiter``,
    ``nullValue``, ``quote``, ``escape``, ``comment``, ``encoding``) by
    mapping them onto ``pd.read_csv``, and raises on any other option —
    the two modes must never parse the same bytes differently.
    """
    if _is_buffer(path):
        import io

        import pandas as pd

        # map the Spark-reader option names onto their pandas equivalents
        # so a buffer parses the SAME way as a path; anything we can't
        # translate raises instead of silently changing the parse
        _BUF_OPT_MAP = {"sep": "sep", "delimiter": "sep", "nullValue": "na_values",
                        "quote": "quotechar", "escape": "escapechar", "comment": "comment",
                        "encoding": "encoding"}
        unsupported = sorted(set(opts) - set(_BUF_OPT_MAP))
        if unsupported:
            raise ValueError(
                f"read_csv buffer mode cannot honor option(s) {unsupported}; "
                "write the buffer to a file and pass the path for the full "
                "Spark CSV option surface"
            )
        pd_opts = {_BUF_OPT_MAP[k]: v for k, v in opts.items()}
        buf = io.BytesIO(path) if isinstance(path, (bytes, bytearray)) else path
        pdf = pd.read_csv(
            buf,
            header=0 if header else None,
            dtype=str if (all_strings or not infer_schema) else None,
            **pd_opts,
        )
        if not header:
            pdf.columns = [f"_c{i}" for i in range(len(pdf.columns))]
        return spark.createDataFrame(pdf, schema=schema)
    reader = spark.read.options(header=header, **opts)
    if schema is not None:
        reader = reader.schema(schema)
    elif not all_strings:
        reader = reader.option("inferSchema", infer_schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None, **opts) -> DataFrame:
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


# Cached parses registered by read_json_with_quarantine (the corrupt-
# column-only restriction forces a cache); released by
# release_quarantine_caches().  Deliberately NOT functions/text's
# scoped-persist registry: those caches are safe to drop at any time
# (lineage recomputes them), but a quarantine split that reads only the
# corrupt column raises QUERY_ONLY_CORRUPT_RECORD_COLUMN once it
# re-plans against the raw scan — so an unrelated query's
# release_cached() must never unpersist these.
_QUARANTINE_CACHE: list[DataFrame] = []


def release_quarantine_caches() -> None:
    """Unpersist every frame cached by :func:`read_json_with_quarantine`
    (unpersisting the returned splits is a no-op: Spark's uncache only
    matches the exact cached plan, not filters over it)."""
    while _QUARANTINE_CACHE:
        _QUARANTINE_CACHE.pop().unpersist()


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
    **opts,
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter ingestion for semi-structured feeds: PERMISSIVE-mode
    JSON read split into ``(good, quarantined)`` — the pattern a
    production pipeline needs instead of FAILFAST (one bad producer
    kills the load) or silent DROPMALFORMED (records vanish without an
    audit trail).  ``good`` carries the declared schema; ``quarantined``
    is one raw-line column for replay/inspection after the producer is
    fixed.

    Requires an explicit ``schema`` (the corrupt column only exists
    when the reader cannot infer the row INTO a known shape; with
    inference a malformed file silently widens the schema instead).
    Spark caveat handled here: a PERMISSIVE reader may leave non-
    corrupt columns NULL on a corrupt row, so the split predicate is
    the corrupt column itself — the one signal Spark defines for this.

    Both frames come from ONE reader definition (same files listing);
    at scale the split is two filters over one scan, and the
    quarantine write should go to its own path for reprocessing."""
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    df = (
        spark.read.options(**opts)
        .schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
    # Spark refuses a query referencing ONLY the corrupt column on a raw
    # scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the sanctioned pattern
    # is caching the parsed frame, which also makes the two splits read
    # one parse instead of two.  The cache is corpus-sized and
    # unpersisting the RETURNED frames cannot release it (uncache
    # matches the exact cached plan only): write both splits promptly,
    # then call release_quarantine_caches().
    df = df.cache()
    _QUARANTINE_CACHE.append(df)
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw")
    )
    return good, bad


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
    header: bool = True,
    **opts,
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter ingestion for CSV — the twin of
    :func:`read_json_with_quarantine` for the reference's CSV-first
    surface (its dirty fixture ``data_penjualan.csv`` motivates this:
    blank fields, duplicate rows, and the all-strings rescue at
    ``simple_etl.py:168-169`` were its only answer to malformed input).
    PERMISSIVE-mode read split into ``(good, quarantined)``: ``good``
    carries the declared schema, ``quarantined`` one raw-line column
    (``raw``) for replay once the producer is fixed.

    A CSV row quarantines when it cannot be parsed INTO the declared
    schema — wrong field count, or a value that fails its declared
    type (e.g. text in an int column).  Blank fields are valid NULLs,
    not corruption (they parse; whether NULL is acceptable is a data-
    QUALITY rule — ``operators.quality.check`` — not a parse failure).

    Same Spark caveats as the JSON twin, handled identically: the
    corrupt column must be part of an EXPLICIT schema; a corrupt-
    column-only query on a raw scan is refused by Spark, so the parsed
    frame is cached (release via :func:`release_quarantine_caches`
    after writing both splits).  Both frames are two filters over one
    cached parse — one scan at scale, never two."""
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    df = (
        spark.read.options(header=header, **opts)
        .schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )
    df = df.cache()
    _QUARANTINE_CACHE.append(df)
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw")
    )
    return good, bad


def _xlsx_col_index(ref: str) -> int:
    """'B7' → 1 (0-based column from an A1-style cell reference)."""
    idx = 0
    for ch in ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _read_xlsx_stdlib(src, sheet_name=0) -> list[list]:
    """Minimal .xlsx parser on the stdlib only (zipfile + ElementTree).

    .xlsx is a zip of SpreadsheetML XML parts; this reads the workbook's
    sheet list, the shared-string table, and one worksheet, yielding a
    rectangular list of rows. Covers the cell types a data file uses:
    shared/inline/formula-cached strings, numbers (int where integral),
    booleans; empty cells → None. Styles, dates-as-serials, merged
    ranges, and formula recomputation are out of scope — that is
    openpyxl's job (this is the fallback when it is absent).
    """
    import io
    import zipfile
    from xml.etree import ElementTree as ET

    if isinstance(src, (bytes, bytearray)):
        src = io.BytesIO(bytes(src))
    with zipfile.ZipFile(src) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rel_ns = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
        sheets = [(s.get("name"), s.get(rel_ns)) for s in wb.findall(".//{*}sheet")]
        if isinstance(sheet_name, int):
            if sheet_name >= len(sheets):
                raise ValueError(f"sheet index {sheet_name} out of range ({len(sheets)} sheets)")
            rid = sheets[sheet_name][1]
        else:
            match = [r for n, r in sheets if n == sheet_name]
            if not match:
                raise ValueError(f"sheet {sheet_name!r} not found; have {[n for n, _ in sheets]}")
            rid = match[0]
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        target = {r.get("Id"): r.get("Target") for r in rels.findall(".//{*}Relationship")}[rid]
        target = target.lstrip("/") if target.startswith("/") else f"xl/{target}"
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            ss = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            # direct <t> + rich-text <r><t> runs ONLY — a blanket .//t
            # would also pick up phonetic <rPh> runs (furigana) and
            # duplicate the cell text
            shared = [
                "".join(
                    t.text or ""
                    for t in si.findall("{*}t") + si.findall("{*}r/{*}t")
                )
                for si in ss.findall(".//{*}si")
            ]
        sheet = ET.fromstring(zf.read(target))

    raw_rows: list[dict[int, object]] = []
    for row in sheet.findall(".//{*}row"):
        cells: dict[int, object] = {}
        for pos, c in enumerate(row.findall("{*}c")):
            ref = c.get("r")
            col = _xlsx_col_index(ref) if ref else pos
            ctype = c.get("t", "n")
            if ctype == "inlineStr":
                cells[col] = "".join(
                    t.text or ""
                    for t in c.findall("{*}is/{*}t") + c.findall("{*}is/{*}r/{*}t")
                )
                continue
            v = c.find("{*}v")
            if v is None or v.text is None:
                continue
            if ctype == "s":
                cells[col] = shared[int(v.text)]
            elif ctype == "b":
                cells[col] = bool(int(v.text))
            elif ctype == "str":  # formula with cached string result
                cells[col] = v.text
            else:
                num = float(v.text)
                cells[col] = int(num) if num.is_integer() else num
        raw_rows.append(cells)
    width = max((max(c) + 1 for c in raw_rows if c), default=0)
    return [[r.get(i) for i in range(width)] for r in raw_rows]


def read_excel(spark: SparkSession, path, sheet_name=0, header: bool = True, **opts) -> DataFrame:
    """Excel (A2, ref ``simple_etl.py:71-72``): driver-side by design.

    ``path`` may be a filesystem path or an in-memory buffer (``bytes`` /
    file-like — the reference's ``st.file_uploader`` hands exactly that).
    Parses with ``pd.read_excel`` when an Excel engine (openpyxl) is
    installed; otherwise falls back to the dependency-free
    :func:`_read_xlsx_stdlib` parser (xlsx only — .xls needs xlrd).
    Documented small-file-only path (SURVEY §7 hard-parts); a .xlsx that
    matters at scale should be converted to parquet upstream.
    """
    import io
    import zipfile

    buf = io.BytesIO(bytes(path)) if isinstance(path, (bytes, bytearray)) else path
    try:
        import pandas as pd

        if not header:
            opts = {"header": None, **opts}
        pdf = pd.read_excel(buf, sheet_name=sheet_name, **opts)
        return spark.createDataFrame(pdf)
    except ImportError as e:
        # fall back ONLY for the xlsx-zip case: a legacy .xls (OLE2, not
        # a zip) failing on missing xlrd must surface pandas' actionable
        # message, not a nonsense BadZipFile from the stdlib parser —
        # and a missing pandas itself also routes to the stdlib path
        if hasattr(buf, "seek"):
            buf.seek(0)
        if not zipfile.is_zipfile(buf):
            raise
        opts.pop("header", None)
        missing_engine = e
    if opts:
        raise ValueError(
            f"stdlib xlsx fallback cannot honor pandas option(s) {sorted(opts)}; "
            f"install the missing dependency for the full surface ({missing_engine})"
        )
    if hasattr(buf, "seek"):
        buf.seek(0)
    rows = _read_xlsx_stdlib(buf, sheet_name=sheet_name)
    if not rows:
        raise ValueError("empty worksheet")
    if header:
        names = [str(h) if h is not None else f"_c{i}" for i, h in enumerate(rows[0])]
        data = rows[1:]
    else:
        names = [f"_c{i}" for i in range(len(rows[0]))]
        data = rows
    # plain createDataFrame — the fallback must not require pandas
    return spark.createDataFrame([tuple(r) for r in data], names)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | None = None,
    **opts,
) -> DataFrame:
    """XML scan (A1 sibling — Spark 4 ships the XML datasource
    natively): one row per ``row_tag`` element, schema inferred from
    element structure unless given. Distributed like every other file
    scan; attribute columns surface prefixed ``_``."""
    reader = spark.read.format("xml").option("rowTag", row_tag).options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_avro(spark: SparkSession, path: str, **opts) -> DataFrame:
    """Avro scan (A1 sibling, row-based interchange format).

    VERIFICATION GATE (documented, same pattern as the Kafka source):
    pyspark bundles the Avro core library but NOT the ``spark-avro``
    datasource module — deploy with ``--packages
    org.apache.spark:spark-avro_2.13:<spark-version>``. Without it this
    raises Spark's own 'Failed to find data source: avro' error, which
    names the fix.
    """
    return spark.read.format("avro").options(**opts).load(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
    **opts,
) -> DataFrame:
    """JDBC scan (A5, ref ``simple_etl.py:114-123`` used driver-side pd.read_sql).

    With ``partition_column`` bounds the scan parallelizes across
    executors — the scale path the reference lacked.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


# Per-dialect table-discovery queries: information_schema for the
# MySQL/Postgres family (what the reference targeted), system catalogs
# for embedded engines. {database} is substituted where the dialect
# scopes by schema.
_DISCOVERY_SQL = {
    "mysql": "SELECT table_name FROM information_schema.tables WHERE table_schema = '{database}'",
    "postgresql": "SELECT table_name FROM information_schema.tables WHERE table_schema = '{database}'",
    "derby": "SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T'",
}


def list_jdbc_tables(
    spark: SparkSession, url: str, database: str = "", dialect: str | None = None, **opts
) -> list[str]:
    """DB discovery (A4, ref ``simple_etl.py:99-108``).

    Dialect is inferred from the JDBC URL (``jdbc:<dialect>:...``) unless
    given; the discovery query runs as a JDBC subquery scan, so it
    exercises the same partitionable read path as any table scan.
    Tested for real against embedded Derby (tests/test_io.py) — the
    MySQL form is identical modulo the catalog query.
    """
    dialect = dialect or url.split(":")[1].lower()
    template = _DISCOVERY_SQL.get(dialect, _DISCOVERY_SQL["mysql"])
    df = read_jdbc(spark, url, f"({template.format(database=database)}) t", **opts)
    return [r[0] for r in df.collect()]


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal ingestion (B26): opaque bytes + typed metadata columns.

    Yields ``path, modificationTime, length, content:binary`` — the raw
    substrate for the multimodal pipeline (functions/multimodal.py).
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
