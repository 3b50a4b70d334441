"""qsvspark — a PySpark-native analytics engine with the query/data-processing
capabilities of sumeshi/qsv-rs, rebuilt from scratch on the Spark DataFrame API.

Architecture (see SURVEY.md):
  - ``Q`` — fluent chainable wrapper over a lazy ``pyspark.sql.DataFrame``
    (the reference's ``DataFrameController`` holds one Polars LazyFrame,
    /root/reference/src/controllers/dataframe.rs:13-16; here the lazy plan
    is a Catalyst logical plan).
  - ``qsvspark.ops`` — one function per chainable operator (SURVEY.md §2.2-2.4).
  - ``qsvspark.io`` — load initializers + finalizer sinks + snapshot catalog.
  - ``qsvspark.pipeline`` — quilt YAML DAG + the parse→enrich→route→aggregate
    north-star pipeline over pre-tokenized sequence tables.
  - ``qsvspark.functions`` — training-data-pipeline extensions (dedup,
    similarity search, text analysis, multimodal plumbing).

Everything is expressed declaratively through the DataFrame API so Catalyst
gets predicate pushdown / column pruning / join selection for free. Python
executes only in Arrow-batched passes: the pandas UDFs of changetz and
convert (``ops.udf``), the sequence packer and its task-side writers
(``functions.packing`` → ``SnapshotCatalog.write_tasks``), multimodal
feature extraction, the BLAS similarity join, and the streaming stateful
operators (``applyInPandasWithState``). Local sessions run those workers
under ``qsvspark.workerd`` (see ``session.get_spark``).
"""

from qsvspark.engine import Q
from qsvspark.session import get_spark

__all__ = ["Q", "get_spark"]
__version__ = "0.1.0"
