"""arachne_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the capabilities of ninjaro/arachne.

The reference (/root/reference) is a single-process C++ Wikidata entity
stitcher.  This package re-expresses its semantics — strict entity-ID
grammar, canonicalization, dedup/grouping, threshold-driven candidate
promotion, batched dictionary enrichment, staleness/resume, and
SPARQL-shaped triple queries — as a distributed KG-construction pipeline
over Common-Crawl-style web pages, designed Spark-first:

* declarative DataFrame plans (Catalyst does pushdown/pruning/join choice)
* broadcast joins for the alias/QID dictionary
* salted two-phase aggregation for skewed head entities
* iterative large-star/small-star connected components for entity stitching
* the KG stage graph is built-in column expressions end to end (HTML
  extraction included); vectorized Arrow/pandas UDFs only where column
  expressions cannot express the semantics (binary decoders, BPE, ANN
  matmul); no per-row Python anywhere.

Nothing here is a port: no code is translated from the reference; only its
observable behavior (cited per-module as file:line into /root/reference).
"""

__version__ = "0.1.0"

from arachne_spark.session import get_spark  # noqa: F401
