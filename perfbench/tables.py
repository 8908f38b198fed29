"""The benchmark's input tables.

``data/`` holds copies of the synthetic testdata tables the repository's
own benchmark reads (``sf0.1/documents``: 5,000 documents;
``sf0.01/documents`` and ``sf0.01/embeddings``: 500 rows each), so a run
reads nothing outside its checkout.  Content never changes; the workload
seed only relabels ids with a permutation of the same id set, which
moves rows across hash buckets and partitions.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"
#: the id column of each table
IDS = {"documents": "doc_id", "embeddings": "vec_id"}


def read(scale: str, name: str, seed: int) -> pa.Table:
    """Table ``name`` at ``scale`` (``"sf0.1"``, ``"sf0.01"``), row order
    and schema as stored, ids relabelled by the seed's permutation."""
    t = pq.read_table(DATA / scale / f"{name}.parquet")
    t = t.replace_schema_metadata(None)
    col = IDS[name]
    ids = t.column(col).to_numpy()
    perm = np.random.default_rng(seed).permutation(len(ids))
    # a permutation of the id set itself: row i gets the perm[i]-th id
    return t.set_column(t.schema.get_field_index(col), col,
                        pa.array(np.sort(ids)[perm], t.schema.field(col).type))


def write(t: pa.Table, path: Path) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(t, str(path))
    return path
