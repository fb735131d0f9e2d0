"""Format long tail beyond the core parquet/orc/csv/json/avro/text set
(SURVEY §2.1; reference registry /root/reference/src/Formats/
registerFormats.cpp:26-105 — ~40 named formats). `sources/formats.py`
binds these codecs to their format names.

Mapping policy: a reference format is either (a) a native Spark source
(XML — Spark 4 built-in — is a `formats.FORMATS` row, no code here),
(b) a thin shim over binaryFile + executor-side decode when a Python
codec exists (Arrow IPC / ArrowStream via pyarrow, Npy via numpy,
RowBinary/Native in sources/rowbinary.py), or (c) a documented
exclusion (`formats.FORMAT_EXCLUSIONS`). Writers encode rows that
`formats.collect` gathered on the driver.

Parallelism note: Arrow IPC *files* carry a footer with record-batch
offsets, but the shim decodes per FILE (binaryFile hands whole files);
dump many files for scale — same contract as RowBinary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _arrow_table(rows, schema):
    import pyarrow as pa

    return pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows])


def encode_parquet(rows, schema) -> bytes:
    """Parquet as one file from collected rows (INTO OUTFILE ... FORMAT
    Parquet); a large result is better written by df.write.parquet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = pa.BufferOutputStream()
    pq.write_table(_arrow_table(rows, schema), sink)
    return sink.getvalue().to_pybytes()


def encode_arrow(rows, schema) -> bytes:
    """Arrow / ArrowStream formats (registerFormats.cpp Arrow): one IPC
    file from collected rows; big exports should stay parquet."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    table = _arrow_table(rows, schema)
    sink = pa.BufferOutputStream()
    with ipc.new_file(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def read_arrow(spark: SparkSession, path_glob: str) -> DataFrame:
    """Directory/glob of Arrow IPC files → DataFrame; decode happens in
    executors via mapInPandas (one task per file)."""
    files = spark.read.format("binaryFile").load(path_glob).select("content")

    # schema from the first file (footer read only)
    first = files.limit(1).collect()[0]["content"]
    import pyarrow as pa
    import pyarrow.ipc as ipc

    rdr = ipc.open_file(pa.BufferReader(bytes(first)))
    sample = rdr.read_all().to_pandas()
    sdf_schema = spark.createDataFrame(sample).schema

    def decode(it):
        for pdf in it:
            for buf in pdf["content"]:
                r = ipc.open_file(pa.BufferReader(bytes(buf)))
                yield r.read_all().to_pandas()

    return files.mapInPandas(decode, sdf_schema)


def encode_npy(rows, schema, column: str) -> bytes:
    """Npy format (registerFormats.cpp:104 registerInputFormatNpy): one
    numeric column of collected rows as a .npy file."""
    import io

    import numpy as np
    import pandas as pd

    i = schema.names.index(column)
    arr = pd.Series([r[i] for r in rows]).to_numpy()
    if arr.dtype == object:
        arr = arr.astype(np.float64)
    buf = io.BytesIO()
    np.save(buf, arr)
    return buf.getvalue()


def read_npy(spark: SparkSession, path: str, column: str = "value") -> DataFrame:
    """.npy → single-column DataFrame (driver decode: npy is one dense
    tensor, there is nothing to parallelize about its header)."""
    import numpy as np

    arr = np.load(path)
    return spark.createDataFrame([(v.item(),) for v in arr], f"{column} double" if arr.dtype.kind == "f" else f"{column} long")


def read_regexp(
    spark: SparkSession,
    path: str,
    pattern: str,
    columns: list[tuple[str, str]],
) -> DataFrame:
    """Regexp input format (registerFormats.cpp Regexp): each line is
    matched against `pattern`; capture group i becomes column i, cast
    to the declared type. Fully distributed (text source + JVM regex
    in codegen); non-matching lines drop, like the reference's
    format_regexp_skip_unmatched=1."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    matched = lines.filter(F.col("value").rlike(pattern))
    return matched.select(
        *[
            F.regexp_extract("value", pattern, i + 1).cast(typ).alias(name)
            for i, (name, typ) in enumerate(columns)
        ]
    )


def read_values(spark: SparkSession, values_literal: str, columns: list[str]) -> DataFrame:
    """Values input format (registerFormats.cpp Values): the INSERT
    literal '(1, ''a''), (2, ''b'')' parsed by Spark SQL's own VALUES
    clause — full expression support, exactly the reference's
    behavior of evaluating expressions inside VALUES."""
    cols = ", ".join(columns)
    return spark.sql(f"SELECT * FROM VALUES {values_literal} AS t({cols})")
