"""Derive the committed neardup_clusters oracle digests.

    python3 perfbench/derive_neardup_digests.py

For each of the generator's document-corpus variants, runs the DuckDB
oracle of `neardup_clusters` (a recursive transitive closure, slow) and
records the canonical digest of its result in `neardup_digests.json`,
keyed by the documents file's size and content hash. Rerun it whenever
the generator changes; the benchmark falls back to running the oracle
for a corpus that is not listed.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import oracle  # noqa: E402
from workloads import NEARDUP_DIGESTS, fixture_key  # noqa: E402

from nomba_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402


def main() -> None:
    digests = {}
    with tempfile.TemporaryDirectory() as tmp:
        for variant in range(datagen.DOC_VARIANTS):
            sf = os.path.join(tmp, f"v{variant}")
            datagen.write_tables({"documents": datagen.generate(variant)["documents"]}, sf)
            con = oracle.connect(sf)
            key = fixture_key(os.path.join(sf, "documents.parquet"))
            digests[key] = oracle.digest(con.execute(REGISTRY["neardup_clusters"].oracle).df())
            con.close()
            print(f"variant {variant}: {key} -> {digests[key]}", flush=True)
    with open(NEARDUP_DIGESTS, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
