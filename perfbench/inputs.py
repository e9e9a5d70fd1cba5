"""Seeded benchmark inputs: key-shift replication of a base table set.

Replication reuses ``tools/scale_testdata.py`` (key groups, shift
offsets and the per-replica token perturbation). The seed fixes two
things and nothing else: the row order inside each written file, and
the salt that replicas after the first append to perturbed tokens. The
same seed therefore gives byte-identical inputs.
"""

from __future__ import annotations

import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _scale_module(root: str):
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import scale_testdata

    return scale_testdata


def _replica(t: pa.Table, cols, r: int, offs: dict[str, int]) -> pa.Table:
    for col, group in cols:
        i = t.schema.get_field_index(col)
        shifted = pc.add(t.column(col), r * offs[group])
        t = t.set_column(i, t.schema.field(col), shifted.cast(t.schema.field(col).type))
    return t


def generate(root: str, base: str, dst: str, scale: int, seed: int) -> dict[str, int]:
    """Write every base table, replicated ``scale`` times, into ``dst``;
    return the row count of each written table."""
    st = _scale_module(root)
    os.makedirs(dst, exist_ok=True)
    offs = st._offsets(base)
    salt = f"s{np.random.default_rng(seed).integers(1 << 30):x}"
    counts = {}
    for table in (*st.FIXED_TABLES, *st.KEY_GROUPS):
        t = pq.read_table(os.path.join(base, f"{table}.parquet"))
        reps = 1 if table in st.FIXED_TABLES else scale
        parts = []
        for r in range(reps):
            rep = _replica(t, st.KEY_GROUPS.get(table, []), r, offs)
            if table == "documents" and r > 0:
                i = rep.schema.get_field_index("text")
                texts = [st._perturb_text(v, f"{r}{salt}") for v in rep.column("text").to_pylist()]
                rep = rep.set_column(i, rep.schema.field("text"), pa.array(texts, pa.string()))
            parts.append(rep)
        out = pa.concat_tables(parts)
        rng = np.random.default_rng([seed, zlib.crc32(table.encode())])
        out = out.take(pa.array(rng.permutation(out.num_rows)))
        pq.write_table(out, os.path.join(dst, f"{table}.parquet"))
        counts[table] = out.num_rows
    return counts
