"""rdfa_spark — PySpark-native knowledge-graph construction engine.

Re-expresses the extraction semantics of the reference RDFa parser
(a Perl document->RDF transducer) as a Spark-first pipeline:

* ``core/``       pure-Python RDFa processing model (no Spark, no lxml)
* ``extract``     Arrow-batched extraction UDF: pages -> triples/errors
* ``pages``       deterministic page synthesis from the documents table
* ``pipeline/``   dedup, entity linking, connected components,
                  resumable materialize; ``build_kg`` chains them
* ``functions/``  text analysis + embedding similarity ops
* ``streaming/``  stateful sessionization via Structured Streaming
                  (extractors run as-is on streaming frames)

Importing the package installs ``_zipcache``'s stat-checked zipimport
invalidation, so each Python worker that unpickles a kernel stops
re-reading its zip archives at the start of every task.
"""

from . import _zipcache  # noqa: F401

__version__ = "0.1.0"
