"""Relational + pipeline operators.

- ``joins``       row-aligned (positional) merge, mapping-key join, FK remap
- ``dedup``       exact & near-duplicate detection (hash, MinHash-LSH,
                  SimHash, PPJoin n-gram Jaccard, segment/span dedup,
                  star connected components, holdout decontamination)
- ``similarity``  vector similarity search (brute-force + LSH/IVF ANN)
- ``clustering``  distributed k-means over embedding columns
- ``text``        language ID, quality scoring, token counts, fingerprints
- ``stats``       column profiling (≙ reference Stats subsystem)
- ``sketches``    mergeable summaries: exact MG heavy hitters, HLL rollups
- ``sampling``    deterministic splits/samples, corpus shuffle shards
- ``windows``     distributed substitutes for global windows
- ``graph``       PageRank, triangles, k-core over edge DataFrames
- ``incremental`` processed-id ledger, incremental MinHash-LSH index
- ``maintenance`` compaction, Z-order layout, partition MERGE, manifests
- ``multimodal``  binary-column plumbing (pluggable decode / features)
"""

from pyspark.sql import Column
from pyspark.sql import functions as F


def named_col(name: str) -> Column:
    """The top-level column literally called *name*.

    Target field names may contain dots (nested-JSON paths such as
    ``name.first``); a bare ``F.col`` would parse those as struct-field
    references and fail with ``UNRESOLVED_COLUMN``. Backtick-quoting
    keeps the dots part of the name.
    """
    return F.col("`" + name.replace("`", "``") + "`")
