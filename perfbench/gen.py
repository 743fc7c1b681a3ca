"""The benchmark's inputs.

The registered queries read the engine's sf0.01 test corpus (the tables
the DuckDB oracle battery passes on), kept byte for byte under
``perfbench/corpus/sf0.01`` so a run reads nothing outside its checkout.
``--seed`` makes the MapReduce inputs, with the repo's own generators
from ``bench_parity``: a file_gen-style words file for the block store
and WordCount, a smaller one for the MapReduce job, and a sparse-id
adjacency TSV for PageRank.  The same seed gives byte-identical files;
they are cached per seed under the work directory.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS_MB = 0.25  # binary-split block-store input, and the DataFrame WordCount's
JOB_MB = 0.0625  # newline-split input of the MapReduce job
GRAPH_NODES = 5_000
GRAPH_EDGES = 25_000


def prepare(work_dir: str, seed: int) -> dict[str, str]:
    """Generate (or reuse) the seed's MapReduce inputs; returns the
    paths: ``sf_dir`` (the corpus), ``words``, ``job_input``,
    ``adjacency``."""
    from bench_parity import generate_adjacency_file, generate_words_file

    root = os.path.join(work_dir, "inputs", f"seed{seed}")
    paths = {
        "sf_dir": CORPUS,
        "words": os.path.join(root, "words.txt"),
        "job_input": os.path.join(root, "job_words.txt"),
        "adjacency": os.path.join(root, "adjacency.tsv"),
    }
    done = os.path.join(root, "DONE")
    if os.path.exists(done):
        return paths
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    generate_words_file(paths["words"], WORDS_MB, seed)
    generate_words_file(paths["job_input"], JOB_MB, seed)
    generate_adjacency_file(paths["adjacency"], GRAPH_NODES, GRAPH_EDGES, seed)
    with open(done, "w") as f:
        f.write(dt.datetime.now(dt.timezone.utc).isoformat())
    return paths
