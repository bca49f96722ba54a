"""Header-cache enrichment: parse each image header ONCE, cache as a struct.

The Spark re-expression of rasteret's build-time COG header enrichment
(`src/rasteret/ingest/enrich.py:228-441` + progressive ranged header reads in
`src/rasteret/fetch/header_parser.py:239-300`): a one-time pass materializes
tile offset/byte-count tables, dtype, transform and nodata into a ``meta``
struct column, so every later read stage plans byte ranges from cached
metadata and never re-touches the header.  This is the "no per-row GDAL"
invariant — downstream operators consume ``meta`` + byte slices only.

Parsing is an Arrow-batched pandas UDF: bytes prefix in, struct out.  Rows
sharing a payload (``phash`` duplicates — the analogue of rasteret's URL-dedup
`ingest/enrich.py:274-292`) can optionally be parsed once per distinct payload
via groupBy, but since parsing costs ~µs per row the default is the
shuffle-free per-row parse.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql import types as T  # noqa: N812

from rasteret_spark.format import container

META_FIELDS = [
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("tile_w", T.IntegerType()),
    T.StructField("tile_h", T.IntegerType()),
    T.StructField("n_bands", T.IntegerType()),
    T.StructField("dtype_code", T.IntegerType()),
    T.StructField("compression", T.IntegerType()),
    T.StructField("predictor", T.IntegerType()),
    T.StructField("nodata", T.DoubleType()),
    T.StructField("qstep", T.DoubleType()),
    T.StructField("transform", T.ArrayType(T.DoubleType())),
    T.StructField("epsg", T.IntegerType()),
    T.StructField("tile_offsets", T.ArrayType(T.LongType())),
    T.StructField("tile_byte_counts", T.ArrayType(T.LongType())),
    # LONG: for TIFFs this is the max file offset the header walk touched
    # (IFD/tile tables can trail the data past 2^31 in big non-COG files)
    T.StructField("header_len", T.LongType()),
    T.StructField("container", T.StringType()),
    T.StructField("byte_order", T.StringType()),
    # TIFF tag 347 for abbreviated JPEG tile streams (null otherwise)
    T.StructField("jpeg_tables", T.BinaryType()),
]
META_STRUCT = T.StructType(META_FIELDS)


HEADER_PREFIX = 16384  # speculative first read, like the reference's 16 KiB
# a header that does not fit the prefix, or does not parse, gives this
# all-null row, which enrich_headers turns into a null ``meta`` (a pandas
# struct UDF cannot return a null struct itself)
_NO_META = dict.fromkeys(f.name for f in META_FIELDS)


def _parse_prefix(prefix) -> dict:
    try:
        return container.parse_any(bytes(prefix)).to_row()
    except Exception:  # NeedBytes or a corrupt blob: the readers parse (and quarantine) it
        return _NO_META


@F.pandas_udf(returnType=META_STRUCT)
def parse_header_udf(prefixes: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([_parse_prefix(p) for p in prefixes], columns=list(_NO_META))


def enrich_headers(df: DataFrame) -> DataFrame:
    """Add the parsed-header ``meta`` struct column (one parse per row).

    Only the first ``HEADER_PREFIX`` bytes of ``bytes`` cross the Arrow
    boundary: the substring projection runs JVM-side, so the full blob
    column never ships to Python — the distributed analogue of the
    reference's progressive ranged header read
    (`src/rasteret/fetch/header_parser.py:276-300`), and the difference
    between moving ~KBs and ~MBs per image through serialization.  A header
    longer than the prefix, or one that does not parse, gives a null
    ``meta``: the readers then parse the header from the blob itself, so a
    long header still decodes and a corrupt blob becomes status rows."""
    parsed = df.withColumn(
        "meta", parse_header_udf(F.substring(F.col("bytes"), 1, HEADER_PREFIX))
    )
    # a second projection so the UDF output is read, not re-evaluated
    return parsed.withColumn("meta", F.when(F.col("meta.width").isNotNull(), F.col("meta")))


def enrich_headers_remote(df: DataFrame) -> DataFrame:
    """Header-cache enrichment over RANGED fetches: each row's header parses
    through a handful of ranged reads against its href — KBs per image, no
    blob column, no downloads (the reference's progressive remote header
    parse, `src/rasteret/fetch/header_parser.py:239-300`, distributed).

    Adds ``meta`` (META_STRUCT, null on failure) and ``enrich_status``
    ('ok' or the quarantined error).  Works for every registered ranged
    scheme (file://, http(s)://, injected test fakes)."""
    from rasteret_spark.operators.decode import _decode_parallelism, _err_status
    from rasteret_spark.sources.fetch import _RANGED_READERS, RangedBlob

    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("meta", META_STRUCT),
            T.StructField("enrich_status", T.StringType()),
        ]
    )
    df = df.repartition(_decode_parallelism(df), "href")
    readers = dict(_RANGED_READERS)  # snapshot: driver-registered schemes
    # must travel to executors by closure, like fetch_blobs' fetchers

    def run(batches):
        for pdf in batches:
            metas, status = [], []
            for url in pdf["href"]:
                try:
                    em = container.parse_any(RangedBlob(str(url), readers))
                    metas.append(em.to_row())
                    status.append("ok")
                except Exception as e:  # quarantine row, not task failure
                    metas.append(None)
                    status.append(_err_status(e))
            out = pdf.copy()
            out["meta"] = metas
            out["enrich_status"] = status
            yield out

    return df.mapInPandas(run, schema=schema)
