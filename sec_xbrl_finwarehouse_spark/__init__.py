"""PySpark-native analytics engine with the query & data-processing
capabilities of louispiallat/sec-xbrl-finwarehouse, re-expressed Spark-first.

Layout:
    session     -- tuned SparkSession factory (AQE, UTC, arrow)
    schemas     -- StructTypes + tag constants from the reference warehouse
    sources/    -- parquet star-schema loaders, companyfacts JSON flatten, SEC HTTP client
    operators/  -- natural-key dedup, pivot, upsert, union-find connected components
    plans/      -- statements_annual (v1/v2/v3), ratios_annual, API query builders,
                   star-schema facts adapter, text/corpus/embedding query packs
    sinks       -- versioned parquet tables: atomic publish, upsert, insert-if-absent
    materialize -- the mart build (companies, statements_annual, ratios_annual)
    api, serving, cli -- the HTTP endpoints and the seed/ingest/build/ratios/serve CLI

Everything is DataFrame/Spark-SQL first: no RDDs, no row-at-a-time Python
UDFs in any hot path. Arrow-batched pandas kernels appear only where
built-ins genuinely cannot express the op (BPE, perceptual hashes,
SEC HTTP fetches).
"""

__version__ = "0.1.0"
