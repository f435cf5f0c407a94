"""LLM-data-pipeline queries: dedup / similarity / text analysis.

Registers the extended operators (BASELINE.json north star) into the
same REGISTRY as the reference-parity queries, each with a DuckDB
oracle twin where expressible. Portability invariants used throughout:

- normalize: ``regexp_replace(lower(trim(x)), '\\s+', ' ')`` — DuckDB
  needs the ``'g'`` flag to match Spark's replace-all default.
- portable 32-bit hash: first 8 md5 hex digits as int (verified
  identical: Spark ``conv(_,16,10)`` ≡ DuckDB ``('0x'||_)::BIGINT``).
- float math: DuckDB ``list_dot_product`` accumulates FLOAT[] in
  single precision; the oracles cast lists to DOUBLE first, which then
  matches Spark's left-to-right double `aggregate` exactly (verified
  to 0 ulp on the test vectors; both sides still round to 4dp).

Since r13 this module is the AGGREGATOR over the per-family modules
in ``plans/llm/`` (dedup / sim / text / samp / multi / sketch /
analytics, shared helpers in ``common``) — r12 verdict optional #7.
Importing it registers all 166 entries, family by family in the
import order below. The 50-entry prefix of ``ordered_registry()`` that
gets evaluated is ``DRIVER_PRIORITY`` (``plans/queries.py``), so
nothing depends on the order of the entries after it.
"""

from olist_data_warehouse_spark.plans.llm import dedup  # noqa: F401,E501
from olist_data_warehouse_spark.plans.llm import sim  # noqa: F401,E501
from olist_data_warehouse_spark.plans.llm import text  # noqa: F401,E501
from olist_data_warehouse_spark.plans.llm import samp  # noqa: F401,E501
from olist_data_warehouse_spark.plans.llm import multi  # noqa: F401,E501
from olist_data_warehouse_spark.plans.llm import sketch  # noqa: F401,E501
from olist_data_warehouse_spark.plans.llm import analytics  # noqa: F401,E501
