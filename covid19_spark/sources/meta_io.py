"""Driver-side parquet I/O for contract-small store metadata: four
stores, one probe.

The four build-once stores (inverted index, fielded index, IVF-PQ index,
SemDeDup assignment) each carry a one-row ``scalars``/``meta`` dataset
and, for the fielded index, a rows-per-field ``fieldstats`` dataset.
``meta_matches`` is their one freshness probe (``scratch.ensure_store``
calls it through each store's ``is_fresh``).  Reading one row through a
distributed Spark job costs a full job submission (~0.1-0.3 s on an idle
local[32], more under load) and WRITING one through
``createDataFrame(...).repartition(1).write.parquet`` costs a shuffle + a
committer pass (~0.5-0.7 s measured) — pure fixed overhead at any scale,
since by contract these datasets are KB-sized.  The guide's driver rule
(§5: the driver should do almost no data work) cuts the other way here:
one metadata row IS driver-sized work, and pushing it through the cluster
is the overhead.

These helpers read/write such datasets directly with pyarrow on the local
filesystem, staying bit- and schema-compatible with the Spark parquet
reader/writer so that:
- stores written by previous rounds (Spark-written files) keep reading,
- anything that still opens the dataset via ``spark.read.parquet`` (tests,
  DuckDB portability) sees the same schema and values.

Paths here are always local (``/tmp/covid19_spark_*`` scratch/caches); a
cluster deployment would swap this seam for its table-format metadata
(Delta/Iceberg snapshot properties), which is the same contract.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq


def read_meta_rows(dirpath: str) -> list[dict]:
    """All rows of a parquet dataset directory as a list of plain dicts.

    Raises ``FileNotFoundError`` when the directory is absent or holds no
    parquet part-files (the same "not there yet" condition callers already
    handle for the Spark reader via AnalysisException/FileNotFoundError);
    genuine corruption surfaces as a pyarrow error."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(dirpath, "*.parquet"))
        if not os.path.basename(f).startswith((".", "_"))
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {dirpath}")
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def meta_matches(dirpath: str, **expected) -> bool:
    """True iff the first row of the meta dataset at ``dirpath`` holds every
    ``expected`` field value.  An absent or partial store (no part-file, no
    row) and an older layout (a missing field) read as not fresh; genuine
    IO, permission or corruption errors surface instead of silently
    triggering a rebuild."""
    try:
        row = read_meta_rows(dirpath)[0]
    except (FileNotFoundError, IndexError):
        return False
    return all(row.get(k) == v for k, v in expected.items())


def write_meta_table(dirpath: str, table: pa.Table) -> None:
    """Overwrite ``dirpath`` with one parquet file holding ``table``.

    Mirrors Spark's ``write.mode("overwrite")`` semantics (clear, then
    write) with one driver-side file — same snappy compression so the
    file stays byte-compatible with what Spark/DuckDB expect to read."""
    import shutil

    shutil.rmtree(dirpath, ignore_errors=True)
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(
        table, os.path.join(dirpath, "part-00000-meta.snappy.parquet"),
        compression="snappy",
    )
