"""Distributed LOPQ encoding: features DataFrame -> codes DataFrame.

Replaces the reference's multiprocessing encode drivers
(``lopq/lopq/utils.py:134-218 compute_codes_parallel`` and the RDD
text-file round trip ``search.py:227-273``) with a single ``mapInArrow``
stage: the model rides a broadcast variable, each Arrow batch is encoded
with vectorized numpy, and the output is a columnar codes table

    (id BIGINT, c1 INT, c2 INT, cell INT, fine ARRAY<INT>)

The per-batch kernel is :func:`encode_batch`; a caller that already holds
the vectors on the driver (the serving index's build and refresh) calls it
directly, so there is one encoder.

Scale notes: this is the LAST stage that touches raw vectors — everything
downstream (index build, search probe) shuffles only ids + codes (a few
bytes/row vs KBs for the vector). At 100 TB the codes table is written
partitioned/bucketed by ``cell`` so the search-time semi-join prunes file
groups (SURVEY §4 "cell pruning" as a physical layout decision).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..functions import arrow_vec
from .model import LOPQModel

CODES_SCHEMA = "id bigint, c1 int, c2 int, cell int, fine array<int>"


def encode_batch(model: LOPQModel, ids, X: np.ndarray) -> pa.RecordBatch:
    """LOPQ codes (CODES_SCHEMA) of the rows of ``X`` keyed by ``ids`` —
    the one encode kernel: :func:`encode_dataframe` runs it per Arrow
    batch on the executors, and a driver that already holds the vectors
    runs it directly."""
    coarse, fine = model.encode(X)
    return pa.record_batch(
        {
            "id": pa.array(ids, pa.int64()),
            "c1": coarse[:, 0].astype(np.int32),
            "c2": coarse[:, 1].astype(np.int32),
            "cell": model.cell_id(coarse).astype(np.int32),
            "fine": arrow_vec.column(fine.astype(np.int32)),
        }
    )


def encode_dataframe(
    spark: SparkSession,
    df: DataFrame,
    model: LOPQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every row of ``df`` to LOPQ codes (one mapInArrow pass)."""
    b_model = spark.sparkContext.broadcast(model.to_arrays())

    def encode_batches(batches):
        model = LOPQModel.from_arrays(b_model.value)
        for batch in batches:
            if not batch.num_rows:
                continue
            yield encode_batch(
                model,
                batch.column(id_col),
                arrow_vec.vectors(batch, vec_col, "encode_dataframe"),
            )

    return df.select(id_col, vec_col).mapInArrow(encode_batches, CODES_SCHEMA)
