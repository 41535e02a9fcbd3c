"""Spark execution engine: the extraction pipeline as a vectorized Arrow UDF.

The reference engine is one C-level function per image
(tuatara.h:13 ``image_to_data``); here the whole pipeline runs inside
``DataFrame.mapInArrow`` over Arrow record batches — no per-row Python in
the hot path (input_hint requirement). Per record batch, each step runs
once and batched: ``fixtures.decode_payloads`` (one stacked TPBIT unpack
per page shape), ``ref.pipeline.detect_pages`` (one stacked detection
forward per page shape), then ``ref.pipeline.recognize_pages`` (ALL region
crops of the batch through recognition as a single matmul — strictly more
vectorized than the reference's chunk-of-4 + 6-thread pool,
tuatara.cpp:450-475, which Spark task parallelism replaces). This module
owns only the row bookkeeping: decode and detect failures become error
rows, never failed tasks.

Model weights are broadcast once per job and rehydrated once per worker
(``Broadcast.value`` caches) — fixing the reference's per-call weight
reload (tuatara.cpp:333-340, 421-432).

Batch sizing: one 256² TPAGE row ≈ 196 KB; keep
``spark.sql.execution.arrow.maxRecordsPerBatch`` ≈ 64 so a batch stays
~12 MB (see session.get_spark).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, FloatType, IntegerType, StringType,
                               StructField, StructType)

from tuatara_spark import fixtures as fx
from tuatara_spark import weights as wt
from tuatara_spark.ref import pipeline as pl

SPANS_TYPE = ArrayType(StructType([
    StructField("text", StringType()),
    StructField("bbox", ArrayType(FloatType())),
]))

EXTRA_FIELDS = [
    StructField("spans", SPANS_TYPE),
    StructField("text", StringType()),
    StructField("n_regions", IntegerType()),
    StructField("n_chars", IntegerType()),
    StructField("error", StringType()),
]

_SPANS_ARROW = pa.list_(pa.struct([("text", pa.string()),
                                   ("bbox", pa.list_(pa.float32()))]))


CONSUMED_COLS = ("html", "text")  # html is the payload; a raw-text metadata
#   column (input_hint schema) would collide with the extracted `text`


def output_schema(input_schema: StructType) -> StructType:
    """Pass through every input column except the consumed ones, then the
    extraction columns."""
    passthrough = [f for f in input_schema.fields
                   if f.name not in CONSUMED_COLS]
    return StructType(passthrough + EXTRA_FIELDS)


def make_extractor(weights_bc, passthrough: list[str]):
    """Build the mapInArrow function. ``weights_bc`` is a pyspark Broadcast
    (or a plain dict for driver-side testing)."""

    def extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        params = None
        for batch in batches:
            if params is None:
                params = (weights_bc.value if hasattr(weights_bc, "value")
                          else weights_bc)
            n = batch.num_rows
            htmls = batch.column("html")
            # payload bytes are zero-copy Arrow buffer views; a poison page
            # becomes an error row
            images, errors = fx.decode_payloads(
                [sc.as_buffer() if sc.is_valid else None for sc in htmls])
            ok_idx = [i for i in range(n) if errors[i] is None]

            # detection, batched by page shape; if the batch path throws
            # (pathological page), fall back to per-page so one bad row
            # becomes an error row instead of a failed task — at 10^12 rows
            # a poison page must not kill the job
            def _detect(idxs):
                try:
                    return pl.detect_pages([images[i] for i in idxs], params)
                except Exception:
                    out = []
                    for i in list(idxs):
                        try:
                            out.append(pl.detect_page(images[i], params))
                        except Exception as e:
                            errors[i] = f"detect: {e}"
                            out.append(None)
                    return out

            det_all = _detect(ok_idx) if ok_idx else []
            det = [(i, d) for i, d in zip(ok_idx, det_all) if d is not None]
            pages = pl.recognize_pages([d for _, d in det], params)

            spans_col: list = [None] * n
            text_col: list = [None] * n
            nreg_col: list = [0] * n
            nchar_col: list = [0] * n
            for (i, _), (spans, full) in zip(det, pages):
                spans_col[i] = spans
                text_col[i] = full
                nreg_col[i] = len(spans)
                nchar_col[i] = len(full)

            arrays = [batch.column(name) for name in passthrough]
            arrays += [
                pa.array(spans_col, type=_SPANS_ARROW),
                pa.array(text_col, type=pa.string()),
                pa.array(nreg_col, type=pa.int32()),
                pa.array(nchar_col, type=pa.int32()),
                pa.array(errors, type=pa.string()),
            ]
            names = passthrough + ["spans", "text", "n_regions", "n_chars",
                                   "error"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return extract


def extract_df(df: DataFrame, weights: dict | None = None,
               seed: int = 42) -> DataFrame:
    """pages DataFrame (url, warc_ts, html, lang, [extra cols]) →
    extraction DataFrame (passthrough + spans/text/n_regions/n_chars/error).

    The html column is consumed inside the UDF; everything else passes
    through. Weights are broadcast once here.
    """
    spark = df.sparkSession
    w = weights if weights is not None else wt.build_weights(seed)
    bc = spark.sparkContext.broadcast(w)
    passthrough = [f.name for f in df.schema.fields
                   if f.name not in CONSUMED_COLS]
    schema = output_schema(df.schema)
    # Ship ONLY passthrough + payload through the Arrow boundary — e.g. a
    # raw-text metadata column (input_hint schema) must be pruned at the
    # scan, not serialized to Python and dropped there.
    pruned = df.select(*passthrough, "html")
    return pruned.mapInArrow(make_extractor(bc, passthrough), schema)
