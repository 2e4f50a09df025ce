"""The ``documents`` corpus behind the ``webtext_prepare`` workload.

The corpus is the sf0.1 ``documents`` table (5,000 rows) made by
``scripts/gen_testdata.py``.  It is generated once per source tree and kept
under ``perfbench/out/fixture/``.  A workload seed only permutes its row
order, so the expected pipeline output is the same for every seed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.1
INPUT_FILES = 4  # one input partition per file, as many as task threads


def documents_dir(root: str, out_dir: str) -> str:
    """Directory holding ``documents.parquet``; generated on first use."""
    sf_dir = os.path.join(out_dir, "fixture", f"sf{SCALE}")
    if not os.path.isfile(os.path.join(sf_dir, "documents.parquet")):
        sys.path.insert(0, os.path.join(root, "scripts"))
        import gen_testdata

        tmp = sf_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_testdata.generate(SCALE, tmp)
        shutil.rmtree(sf_dir, ignore_errors=True)
        os.replace(tmp, sf_dir)
    return sf_dir


def load_documents(sf_dir: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()


def content_hash(docs: pd.DataFrame) -> str:
    """sha256 of the rows in ``doc_id`` order — independent of row order and
    of the parquet writer, so it keys the oracle digest of the content."""
    h = hashlib.sha256()
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    for row in docs.sort_values("doc_id")[cols].itertuples(index=False):
        h.update("\x1f".join(map(str, row)).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def write_permuted(docs: pd.DataFrame, seed: int, sf_dir: str) -> None:
    """Write ``docs`` in a seeded row order as ``sf_dir/documents.parquet``,
    a directory of ``INPUT_FILES`` part files."""
    order = np.random.default_rng(seed).permutation(len(docs))
    table = pa.Table.from_pandas(docs.iloc[order], preserve_index=False)
    out = os.path.join(sf_dir, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    step = -(-len(docs) // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(
            table.slice(k * step, step), os.path.join(out, f"part-{k}.parquet")
        )
