"""S1/S2/S3 — the Excel "Day Docket" workbook source, relationalized.

The reference addresses one worksheet ("A4 Summary") positionally:
B3 = Excel-serial date, D15 = till variance, charge rows from row 21
delimited by literal "Amount" marker rows, a payments section ending at
"Total Charges", and a "Total Debtors" reconciliation row located by
scanning every cell (/root/reference/src/parse.ts:61-146).

Engine model: a workbook becomes a GRID DataFrame —
(src_file, row_idx, A..G as strings) — and every downstream step is a
relational operator over that grid (see ``parse_day_dockets``):
marker segmentation is a running-sum window (W1), cell lookups are
filters, the balance check is an aggregate. This keeps the positional
logic testable on in-memory fixtures with no Excel library present.

Physical ingestion: ``read_workbook_grids`` is a binaryFile source +
mapInPandas decode — partition-parallel workbook decode for many files,
strict: an undecodable workbook fails the run, naming the file.  The
byte decode is ``decode_workbook_grid``: an xlsx is a zip of XML parts
(``decode_xlsx_grid``) and a legacy xls an OLE2 BIFF8 stream
(``sources/biff.py``), both decoded with the stdlib alone — no Excel
library required, golden-workbook tested.  ``grid_from_rows`` builds
the same grid from (src_file, row_idx, A..G) tuples for fixtures.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

GRID_COLUMNS = ("A", "B", "C", "D", "E", "F", "G")

GRID_SCHEMA = T.StructType(
    [T.StructField("src_file", T.StringType(), False),
     T.StructField("row_idx", T.IntegerType(), False)]
    + [T.StructField(c, T.StringType(), True) for c in GRID_COLUMNS]
)

# Filename contract: `DD {dd}.xls[x]` (src/parse.ts:49, src/helpers.ts:76).
DD_FILE_GLOB = "DD [0-9][0-9].xls*"
DD_FILE_REGEX = r"^DD \d\d\.xls[x]?$"


def grid_from_rows(
    spark: SparkSession,
    rows: Iterable[tuple],
) -> DataFrame:
    """Build a grid DataFrame from (src_file, row_idx, A..G) tuples."""
    return spark.createDataFrame(list(rows), schema=GRID_SCHEMA)


def list_day_docket_files(spark: SparkSession, drop_dir: str) -> DataFrame:
    """S1: non-recursive directory scan with the DD-filename filter.

    The reference's recursion is broken (return value discarded,
    src/parse.ts:46-48) — evident-intent semantics here is the Spark
    default recursiveFileLookup=false, honored deliberately.
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", DD_FILE_GLOB)
        .load(drop_dir)
        .select(
            F.col("path"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
            F.col("length"),
            F.col("content"),
        )
        .filter(F.col("file_name").rlike(DD_FILE_REGEX))
    )


def _col_index(ref: str) -> int:
    """1-based column index from a cell reference like ``B3``."""
    ci = 0
    for ch in ref:
        if not ch.isalpha():
            break
        ci = ci * 26 + (ord(ch.upper()) - 64)
    return ci


def decode_xlsx_grid(
    content: bytes, sheet_name: str
) -> list[tuple[int, list[str | None]]]:
    """Decode one worksheet of an xlsx byte blob to (row_idx, cells).

    Pure stdlib: an xlsx is a zip — xl/workbook.xml names the sheets
    (r:id), xl/_rels/workbook.xml.rels maps r:id to the worksheet part,
    xl/sharedStrings.xml holds the string table, and each cell carries
    a type (``t``: s=shared string, inlineStr, b=bool, default
    numeric) plus a ``<v>`` value. Values are emitted as raw strings —
    the grid contract keeps every cell textual (Excel serial dates are
    decoded downstream by the S3 scalars, src/parse.ts:66-69).

    Rows are returned for every index 1..max_row (absent rows become
    all-None) so positional addressing (B3, row 21…) matches how an
    Excel reader walks the full sheet.
    """
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    # normalize the container errors to the repo-wide byte-decoder
    # contract (ValueError only — see tests/test_codec_fuzz.py): a
    # malformed blob in a binaryFile column must fail loudly per-row,
    # not surface zipfile/ET internals from inside an Arrow batch
    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
    except (zipfile.BadZipFile, KeyError, ET.ParseError) as e:
        raise ValueError(f"not a readable xlsx: {e}") from e
    rel_id_attr = (
        "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
    )
    rid = None
    for sh in wb.iterfind(".//{*}sheet"):
        if sh.get("name") == sheet_name:
            rid = sh.get(rel_id_attr)
            break
    if rid is None:
        raise KeyError(f"worksheet {sheet_name!r} not found in workbook")
    target = None
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    for rel in rels.iterfind(".//{*}Relationship"):
        if rel.get("Id") == rid:
            target = rel.get("Target").lstrip("/")
    if target is None:
        raise KeyError(f"no relationship target for sheet {sheet_name!r}")
    if not target.startswith("xl/"):
        target = f"xl/{target}"

    sst: list[str] = []
    if "xl/sharedStrings.xml" in zf.namelist():
        for si in ET.fromstring(zf.read("xl/sharedStrings.xml")).iterfind(".//{*}si"):
            sst.append("".join(t.text or "" for t in si.iterfind(".//{*}t")))

    rows: dict[int, list[str | None]] = {}
    r_seq = 0
    for row in ET.fromstring(zf.read(target)).iterfind(".//{*}row"):
        r_seq = int(row.get("r", r_seq + 1))
        vals: list[str | None] = [None] * len(GRID_COLUMNS)
        c_seq = 0
        for c in row.iterfind(".//{*}c"):
            ref = c.get("r")
            c_seq = _col_index(ref) if ref else c_seq + 1
            if not 1 <= c_seq <= len(GRID_COLUMNS):
                continue
            t = c.get("t", "n")
            if t == "inlineStr":
                v: str | None = "".join(x.text or "" for x in c.iterfind(".//{*}t"))
            else:
                ve = c.find("{*}v")
                if ve is None or ve.text is None:
                    v = None
                elif t == "s":
                    v = sst[int(ve.text)]
                elif t == "b":
                    v = "True" if ve.text.strip() == "1" else "False"
                else:
                    v = ve.text
            if v is not None:
                vals[c_seq - 1] = v
        rows[r_seq] = vals
    if not rows:
        return []
    empty: list[str | None] = [None] * len(GRID_COLUMNS)
    return [(r, rows.get(r, empty)) for r in range(1, max(rows) + 1)]


def decode_workbook_grid(
    content: bytes, sheet_name: str
) -> list[tuple[int, list[str | None]]]:
    """Container-sniffing decode: zip-XML ``.xlsx`` and legacy OLE2
    BIFF8 ``.xls`` both land on the same grid contract (the filename
    contract accepts both — ``DD \\d\\d.xls[x]?``, src/parse.ts:49).
    Anything with neither magic raises a diagnosable ``ValueError``
    instead of a ``BadZipFile`` from deep inside the zip module."""
    from xero_api_etl_utilities_spark.sources.biff import OLE2_MAGIC, decode_xls_grid

    if content[:4] == b"PK\x03\x04":
        return decode_xlsx_grid(content, sheet_name)
    if content[:8] == OLE2_MAGIC:
        return decode_xls_grid(content, sheet_name)
    head = content[:8].hex()
    raise ValueError(
        f"unrecognized workbook container (magic {head!r}): neither "
        "zip-XML .xlsx nor OLE2 .xls"
    )


def _decode_workbook_batches(batches):
    """mapInPandas worker: binaryFile rows → grid rows via the stdlib
    xlsx/xls decoders (one workbook may span pandas chunks; each input
    row is one whole workbook blob, so per-row decode is safe).  A
    decode error is re-raised as a ``ValueError`` that starts with the
    workbook's file name."""
    import pandas as pd

    for pdf in batches:
        out: list[dict] = []
        for _, row in pdf.iterrows():
            try:
                # fixed sheet name, src/parse.ts:63
                decoded = decode_workbook_grid(row["content"], "A4 Summary")
            except (ValueError, KeyError) as e:
                raise ValueError(f"{row['file_name']}: {e}") from e
            for r_idx, cells in decoded:
                rec = {"src_file": row["file_name"], "row_idx": r_idx}
                for c_idx, col in enumerate(GRID_COLUMNS):
                    rec[col] = cells[c_idx]
                out.append(rec)
        yield pd.DataFrame(
            out, columns=["src_file", "row_idx", *GRID_COLUMNS]
        )


def read_workbook_grids(spark: SparkSession, drop_dir: str) -> DataFrame:
    """S2 at scale: Arrow-batched decode of the scan's splits to the
    grid schema via the stdlib xlsx/xls decoders.

    The decode runs straight on the binaryFile scan, with no shuffle in
    front of it.  The scan never splits a file; it packs whole files
    into splits of at most ``min(maxPartitionBytes, max(openCostInBytes,
    total / defaultParallelism))`` bytes, where the total charges every
    file ``openCostInBytes`` (4 MB) on top of its length.  So many small
    workbooks spread evenly across the cores, and a single workbook is
    one decode task.  Workbooks are independent decode units: how they
    share a split does not change the grid.

    One undecodable workbook fails its task, and with it the run, with
    the workbook's file name and the decoder's reason in the error: a
    day is imported whole or not at all."""
    return list_day_docket_files(spark, drop_dir).mapInPandas(
        _decode_workbook_batches, schema=GRID_SCHEMA
    )
