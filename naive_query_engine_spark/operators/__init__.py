"""Extension operators beyond the reference's surface.

The reference engine is a flat relational core (SURVEY §2).  These modules
add the operations a large-scale training-data pipeline needs — each one
both a reusable DataFrame-level operator and a registered query with a
DuckDB oracle where SQL-expressible:

- :mod:`text`        — language-ID, quality scoring, token counting, fingerprints
- :mod:`dedup`       — exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine
- :mod:`similarity`  — brute-force and LSH-bucketed nearest-neighbor search
- :mod:`events`      — event-time windowing (batch analog of streaming ops)
- :mod:`multimodal`  — opaque binary payload plumbing (decode stubs, Arrow-batched)
"""


def register_all() -> None:
    """Import every operator module for its query-registration side effects."""
    from . import (  # noqa: F401
        analytics,
        clustering,
        custom_agg,
        dedup,
        events,
        kmeans,
        layout,
        linkage,
        multimodal,
        pipeline,
        quality,
        retrieval,
        sketches,
        similarity,
        skew,
        temporal,
        text,
    )


# Importing any operator module first loads the whole registry from here,
# in ``queries``' own order, before that module's body runs: otherwise
# ``queries`` would import every operator while the first one is still
# half-built, and a sibling importing names from it (kmeans from
# similarity, pipeline from text) would fail.
from .. import queries  # noqa: E402,F401
