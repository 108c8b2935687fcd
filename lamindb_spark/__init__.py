"""lamindb_spark — a PySpark-native data-lakehouse engine.

A from-scratch rebuild of the capabilities of the reference system
laminlabs/lamindb (metadata registries + columnar payloads + lineage +
curation + search) expressed Spark-first: every operator is a lazy
DataFrame transformation optimized by Catalyst; registries are Parquet
tables; payloads are whatever ``spark.read`` can scan.

Layout
------
- ``session``     SparkSession factory with engine defaults
- ``sources``     payload readers (suffix dispatch, testdata loader)
- ``catalog``     registry schemas + Parquet-backed Lakehouse catalog
- ``operators``   filter/Q compiler, joins, search, windows, pivot, graph
- ``functions``   scalar helpers: ids (base62), text metrics, vectors
- ``curation``    validate / inspect / standardize / schema checks
- ``lineage``     track/finish runs, provenance traversal
- ``pipeline``    training-data ops: dedup (exact/MinHash/SimHash/C4
                  spans/SemDeDup), similarity & ANN (LSH/IVF/k-means/
                  PCA/JL), corpus rules (Gopher, packing, mixing,
                  sampling, BM25, LM perplexity, OOV), tokenizers
                  (BPE), classifier (hashed logreg), multimodal binary
                  columns
- ``streaming``   Structured Streaming ingestion of event streams,
                  exactly-once commit-log sink
"""

from .session import get_spark  # noqa: F401
from .operators.filters import Q  # noqa: F401
from .catalog.lakehouse import Lakehouse  # noqa: F401
from .catalog.query import Feature, QuerySet  # noqa: F401
from .curation import (  # noqa: F401
    from_values,
    inspect_values,
    standardize_values,
    validate_values,
)
from .curation.curator import CategoricalSpec, DataFrameCurator  # noqa: F401
from .lineage.context import (  # noqa: F401
    finish,
    flow,
    latest_run,
    step,
    track,
    tracked,
    transform_from_path,
    view_lineage,
)
from .integrations import curate_from_croissant  # noqa: F401


def connect(spark, root: str, branch_id: int = 1) -> Lakehouse:
    """Open (or initialize) an engine instance at a root directory —
    the reference's ``ln.connect`` analogue."""
    return Lakehouse(spark, root, current_branch_id=branch_id)


__version__ = "0.1.0"
