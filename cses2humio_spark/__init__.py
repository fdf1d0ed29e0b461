"""cses2humio_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference connector
(Trifork-Security/cses2humio, see /root/reference/cses2humio/app.py) as an
idiomatic Spark engine:

- ``streaming/``  — the connector pipeline (R1-R16 of SURVEY.md §2.1)
  rebuilt on Structured Streaming.
- ``sources/``    — batch/stream source adapters (parquet catalog, NDJSON
  event source with the Falcon envelope schema).
- ``functions/``  — scalar/text/vector function library (JVM-side built-ins
  first; Pandas UDFs only where unavoidable).
- ``operators/``  — composable DataFrame -> DataFrame operators (joins,
  aggregations, windows, dedup, similarity search).
- ``queries/``    — the registered query surface consumed by
  ``__spark_entry__.py`` (each query paired with a DuckDB oracle).
- ``plans/``      — plan-inspection helpers (pushdown / broadcast asserts).
"""

__version__ = "0.1.0"

from cses2humio_spark.session import get_spark  # noqa: F401
from cses2humio_spark.sources.catalog import load_lookup_csv  # noqa: F401
from cses2humio_spark.operators.joins import (  # noqa: F401
    asof_join,
    range_join,
    salted_join,
)
from cses2humio_spark.operators.dedup import (  # noqa: F401
    alternating_star_components,
    dedup_exact_by_key,
    dedup_exact_content,
    jaccard_pairs,
    minhash_candidate_pairs,
    minhash_signatures,
    simhash,
    streaming_near_dup_candidates,
)
from cses2humio_spark.operators.similarity import (  # noqa: F401
    cosine_topk_bruteforce,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)
from cses2humio_spark.operators.decomposition import (  # noqa: F401
    PcaModel,
    pca_fit,
    pca_project,
)
from cses2humio_spark.operators.reshape import (  # noqa: F401
    compact_for_scan,
    pivot_map_to_columns,
)
from cses2humio_spark.streaming.joins import stream_interval_join  # noqa: F401
from cses2humio_spark.streaming.alerts import (  # noqa: F401
    AlertRule,
    load_alert_rules,
    run_alert_rules,
)
from cses2humio_spark.streaming.materialized import (  # noqa: F401
    IncrementalRollup,
    MaterializedHqlSearch,
)
from cses2humio_spark.streaming.stateful import (  # noqa: F401
    streaming_sessionize_timeout,
)
from cses2humio_spark.hql import hql  # noqa: F401
from cses2humio_spark.streaming.pipeline import (  # noqa: F401
    enrich_events,
    parse_events,
    parse_events_variant,
    run_pipeline,
    supervise_pipeline,
    with_replay_dedup,
)
