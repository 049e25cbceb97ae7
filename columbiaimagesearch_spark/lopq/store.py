"""Model artifact persistence — Parquet + JSON instead of pickle-on-S3.

The reference persists LOPQ params by pickling to S3/local
(``storer/s3.py:84-145``, ``storer/local.py:47-82``) or protobuf/.mat
(``lopq/lopq/model.py:712-820``). Engine policy (SURVEY §1.3): model
parameters are small ndarrays -> persist as ONE Parquet table of
(array_name, idx, vals) rows plus a JSON metadata sidecar row, readable by
any engine, splittable, and schema-checked — then broadcast at run time.
Paths may be any Hadoop-compatible filesystem (s3a://, hdfs://, file:///).
"""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from ..functions import arrow_vec
from .model import LOPQModel

_SCHEMA = "name string, idx int, shape array<int>, vals array<double>"


def save_model(spark: SparkSession, model: LOPQModel, path: str) -> None:
    """One row per (array, leading index): Cs/Rs/mus rows are per (half*V),
    subs rows per m — each small enough for a single Parquet page, the whole
    artifact a handful of row groups."""
    rows = [("meta", 0, [4], [float(model.V), float(model.M), float(model.K), float(model.D)])]
    for name, arr in (("Cs", model.Cs), ("Rs", model.Rs), ("mus", model.mus), ("subs", model.subs)):
        lead = arr.shape[0] * (arr.shape[1] if name != "subs" else 1)
        flat = arr.reshape(lead, -1) if name != "subs" else arr.reshape(arr.shape[0], -1)
        inner = list(arr.shape[1:]) if name == "subs" else list(arr.shape[2:])
        for i in range(flat.shape[0]):
            rows.append((name, i, [int(x) for x in inner], [float(x) for x in flat[i]]))
    spark.createDataFrame(rows, _SCHEMA).repartition(1).write.mode("overwrite").parquet(path)


def _read_arrays(spark: SparkSession, path: str) -> dict[str, np.ndarray]:
    """name -> its rows' ``vals`` in ``idx`` order, one row per matrix row,
    reshaped to ``(rows, *shape)``."""
    tbl = spark.read.parquet(path).toArrow().sort_by("idx")
    out = {}
    for name in pc.unique(tbl["name"]).to_pylist():
        part = tbl.filter(pc.equal(tbl["name"], name))
        flat = arrow_vec.vectors(part, "vals", f"lopq.store ({name})")
        out[name] = flat.reshape(len(flat), *part["shape"][0].as_py())
    return out


def load_model(spark: SparkSession, path: str) -> LOPQModel:
    arrays = _read_arrays(spark, path)
    V, M, K, D = (int(x) for x in arrays.pop("meta")[0])

    def assemble(name: str, outer_shape: tuple[int, ...]) -> np.ndarray:
        arr = arrays[name]
        return arr.reshape(*outer_shape, *arr.shape[1:])

    return LOPQModel(
        V=V, M=M, K=K, D=D,
        Cs=assemble("Cs", (2, V)),
        Rs=assemble("Rs", (2, V)),
        mus=assemble("mus", (2, V)),
        subs=assemble("subs", (M,)),
    )


def save_model_pca(spark: SparkSession, model, path: str) -> None:
    """Persist a :class:`~.model.LOPQModelPCA`: the inner LOPQ model under
    ``<path>/lopq`` (same artifact as :func:`save_model`) and the PCA
    projection (P one row per input dim, mu one row) under ``<path>/pca``
    — the reference persists the PCA params alongside the model the same
    way (storer pickle of (P, mu); model.py:712-820)."""
    save_model(spark, model.lopq, f"{path}/lopq")
    P = np.asarray(model.P, dtype=np.float64)
    mu = np.asarray(model.mu, dtype=np.float64)
    rows = [("mu", 0, [int(mu.shape[0])], [float(x) for x in mu])]
    rows += [
        ("P", i, [int(P.shape[1])], [float(x) for x in P[i]])
        for i in range(P.shape[0])
    ]
    spark.createDataFrame(rows, _SCHEMA).repartition(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/pca")


def load_model_pca(spark: SparkSession, path: str):
    from .model import LOPQModelPCA

    lopq = load_model(spark, f"{path}/lopq")
    arrays = _read_arrays(spark, f"{path}/pca")
    return LOPQModelPCA(lopq=lopq, P=arrays["P"], mu=arrays["mu"][0])
