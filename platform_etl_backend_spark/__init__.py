"""platform_etl_backend_spark — a PySpark-native analytics/ETL engine.

A from-scratch rebuild of the query and data-processing capabilities of
opentargets/platform-etl-backend (reference: /root/reference, Scala/Spark
3.2.4), re-expressed idiomatically for PySpark 4.x:

- ``engine``     — SparkSession factory, config model, IO resource layer
                   (reference: spark/IoHelpers.scala, ETLSessionContext.scala)
- ``functions``  — column-expression helpers (reference: spark/Helpers.scala)
- ``operators``  — reusable dataflow operators: dedup, similarity search,
                   text analysis, graph closure, LLR/Monte-Carlo stats,
                   window patterns, reshaping
- ``sources``    — configured readers incl. flat-file record parsers
                   (reference: preprocess/uniprot, preprocess/go)
- ``plans``      — physical-plan introspection/assertions (broadcast,
                   pushdown) used to keep 100TB-scale plans honest
- ``steps``      — end-to-end step dataflows mirroring the reference's CLI

Everything is declarative DataFrame/SQL first; Python UDFs appear only where
Catalyst genuinely cannot express the semantics (seeded Monte-Carlo
simulation, multimodal decode stubs).
"""

__version__ = "0.1.0"
