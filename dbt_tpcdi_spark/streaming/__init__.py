"""Streaming layer: incremental DAG refresh (the Spark analog of
Snowflake dynamic-table ``target_lag``: fingerprints pick the stale
models, ``plans.runner.Runner.run`` rebuilds them) and Structured
Streaming operators over append-only sources."""
