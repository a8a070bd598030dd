"""Seeded benchmark inputs.

``--seed`` is the only source of variation: every table is drawn from
``np.random.default_rng`` streams derived from it, so one seed always gives
byte-identical files and sizes are fixed by the workload.  The generators
are the repository's own fixture generators
(``tools.wastewater_fixture.generate_wastewater`` and
``tools.gen_scale_fixture.gen_documents`` / ``gen_embeddings``); this module
only fixes sizes and writes the files.

Each input set is written once per (workload, seed, scale, sizes) into the
work directory and reused by later runs with the same seed; the sizes are
part of the directory name, so a size change never reuses old inputs.
Delete ``.perfbench/inputs`` after changing a generator.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from tools.gen_scale_fixture import gen_documents, gen_embeddings
from tools.wastewater_fixture import generate_wastewater

#: Row counts of the timed inputs and of the smaller warm-up inputs.
WW_ROWS = {"timed": (2000,), "warm": (400,)}
CORPUS_ROWS = {"timed": (400, 400), "warm": (120, 120)}  # (documents, vectors)

#: Distinct streams per scale so warm-up inputs never equal timed inputs.
_SCALE_SALT = {"timed": 0, "warm": 1}


def _rng(seed: int, scale: str) -> np.random.Generator:
    return np.random.default_rng([seed, _SCALE_SALT[scale]])


def write_wastewater(out_dir: str, seed: int, scale: str) -> None:
    (n_rows,) = WW_ROWS[scale]
    df = generate_wastewater(n_rows, int(_rng(seed, scale).integers(2**31)))
    df.to_csv(os.path.join(out_dir, "wastewater_samples.csv"), index=False)
    df.to_parquet(os.path.join(out_dir, "wastewater_samples.parquet"), index=False)


def write_corpus(out_dir: str, seed: int, scale: str) -> None:
    n_docs, n_vecs = CORPUS_ROWS[scale]
    rng = _rng(seed, scale)
    pq.write_table(gen_documents(n_docs, rng), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(gen_embeddings(n_vecs, rng), os.path.join(out_dir, "embeddings.parquet"))


WRITERS = {"ww_pipeline": write_wastewater, "catalog_corpus": write_corpus}
SIZES = {"ww_pipeline": WW_ROWS, "catalog_corpus": CORPUS_ROWS}


def ensure_inputs(work_dir: str, workload: str, seed: int, scale: str) -> str:
    """Directory holding ``workload``'s inputs for ``seed`` at ``scale``;
    generated on first use.  A marker file is written last, so a run that
    died mid-write regenerates instead of reading a partial set."""
    sizes = "x".join(map(str, SIZES[workload][scale]))
    out = os.path.join(work_dir, "inputs", workload, f"seed{seed}", f"{scale}-{sizes}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    WRITERS[workload](out, seed, scale)
    with open(os.path.join(out, ".done"), "w"):
        pass
    return out


def digest(path: str) -> str:
    """SHA-256 over every input file's name and bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.startswith("."):
            continue
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
