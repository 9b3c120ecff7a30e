"""Structured Streaming layer (SURVEY.md §2.8, §3).

The reference's runtime is per-record Flink dataflow; here every topology is a
streaming DataFrame pipeline:

- ``state``      the genuinely stateful operators (W2-W4) as
                 ``applyInPandasWithState`` processors
- ``sinks``      foreachBatch keyed-upsert (K3/K5), dynamic topic/table
                 routing (K2/R3), dim-catalog DDL from config ops (R4)
- ``pipelines``  end-to-end topologies: watermarked window aggregates, the
                 DwdBaseLog five-way split, the DimApp config-driven router
- ``delta``      Delta Lake sinks, keyed stores and the incremental source
- ``tablecommit`` the commit core under the Delta and Iceberg writers
                 (publish and its retry loop, footer stats, staged
                 placement, drift check, orphan sweep)
- ``kafka``      Kafka source/sink builders (FlinkSourceUtil/FlinkSinkUtil
                 equivalents) for live deployments; fixture tests use file
                 streams with identical topology code
"""
