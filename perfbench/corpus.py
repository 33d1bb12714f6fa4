"""Seeded analytic corpus for the ``surface`` workload.

Reuses ``tools/gen_reseed.py`` (the repo's re-seeded twin generator, sf0.01
shaped) so the corpus keeps the value domains the query surface is written
against. That tool copies the fixed region/nation tables and the document
vocabulary from a base directory; here the base is written from the
constants below, so the benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _write_base(base: str) -> None:
    os.makedirs(base, exist_ok=True)
    pq.write_table(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        f"{base}/region.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{base}/nation.parquet",
    )
    pq.write_table(pa.table({"text": [" ".join(VOCAB)]}), f"{base}/documents.parquet")


def make_corpus(out: str, seed: int) -> None:
    """Write the ten analytic tables for ``seed`` into ``out``."""
    import gen_reseed  # tools/ is on sys.path; see runner.py

    base = os.path.join(out, "_base")
    _write_base(base)
    argv, old_base = sys.argv, gen_reseed.BASE
    sys.argv, gen_reseed.BASE = ["gen_reseed", out, str(seed), "1.0"], base
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            gen_reseed.main()
    finally:
        sys.argv, gen_reseed.BASE = argv, old_base
