"""Structured Streaming operators: stateful sessionization
(``stateful``).  Incremental crawl extraction needs no module of its
own: ``extract.extract_triples`` runs unchanged on a streaming pages
frame.

This __init__ is load-bearing: workers import the package from the
shipped dist/rdfa_spark.zip (addPyFile), and zipimport does NOT
support PEP-420 namespace packages — without it,
``import rdfa_spark.streaming`` works from a repo checkout but
raises ModuleNotFoundError inside executors when the driver runs
from any other cwd.
"""
