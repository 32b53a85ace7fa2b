"""The benchmark's calls into the package, one function per step a user
takes.  Every call goes through the public API; each is wrapped in a
tracer span, which is a bare call in untraced runs, so traced and untraced
runs execute the same code.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_indexes_spark.functions.text import tokenize_col
from datalake_indexes_spark.functions.xash import xash_pandas_udf
from datalake_indexes_spark.index.builder import build_index, with_global_row_number
from datalake_indexes_spark.operators.cocoa import COCOA
from datalake_indexes_spark.operators.duplicates import DuplicateDetection
from datalake_indexes_spark.operators.mate import MATE, MateResult
from datalake_indexes_spark.pipelines.enrichment import enrich_dataset
from datalake_indexes_spark.sources.catalog import TESTDATA_LAKE_SPEC

from tracer import held_storage

# query parameters of the workloads
ENRICH_K, ENRICH_K_C, ENRICH_K_FEATURES = 5, 500, 10
MATE_K, MATE_K_C = 10, 500


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_cached_index(spark, lake: dict[str, str], table_order, tr):
    """One full public build: read the tables, ``build_index``,
    ``LakeIndex.cache`` and materialise every member.  Returns the index
    and its cell count."""
    with tr.span("builder.call_s"):
        tables = {n: spark.read.parquet(lake[n]) for n in table_order}
        specs = {n: TESTDATA_LAKE_SPEC[n] for n in table_order}
        index = build_index(spark, tables, specs)
    index.cache()
    with tr.span("builder.cells_s"):
        n_cells = index.cells.count()
    with tr.span("builder.row_keys_s"):
        index.row_keys.count()
    with tr.span("builder.aux_s"):
        index.col_flags.count()
        index.table_info.count()
        index.column_headers.count()
    return index, n_cells


def drop_index(spark, index) -> None:
    index.uncache()
    spark.catalog.clearCache()


def build_layers(spark, lake: dict[str, str], index, tr) -> None:
    """Traced runs only: the build's lower layers on their own — the scan
    (sources), the tokenizer (text) over every indexed column, and the
    XASH Arrow UDF over the cached cells."""
    with tr.span("sources.scan_s"):
        for path in lake.values():
            _noop(spark.read.parquet(path))
    with tr.span("text.tokenize_s"):
        for name, spec in TESTDATA_LAKE_SPEC.items():
            df = spark.read.parquet(lake[name])
            _noop(df.select(*[tokenize_col(F.col(c)) for c in spec.cols]))
    with tr.span("xash.hash_s"):
        _noop(index.cells.select(xash_pandas_udf()(F.col("tokenized")).alias("h")))


def probe_frame(spark, lake: dict[str, str], op):
    return spark.read.parquet(lake[op.table]).filter(F.expr(op.predicate))


def enrich_once(spark, lake: dict[str, str], index, op, tr):
    """One enrich op: ``enrich_dataset`` on the op's probe, then a noop
    write of the enriched frame."""
    before = held_storage(spark.sparkContext)[1] if tr.enabled else 0
    with tr.span("enrichment.call_s"):
        result = enrich_dataset(
            index, probe_frame(spark, lake, op), list(op.query_columns), op.target,
            k=ENRICH_K, k_c=ENRICH_K_C, k_features=ENRICH_K_FEATURES,
            input_order_by=list(op.order_by),
        )
    with tr.span("enrichment.materialize_s"):
        _noop(result.enriched)
    tr.record("enrichment.mate_runtime_s", result.stats["mate_runtime"])
    tr.record("enrichment.correlation_runtime_s", result.stats["correlation_runtime"])
    if tr.enabled:
        tr.record("enrichment.persisted", held_storage(spark.sparkContext)[1] - before)
    return result


def query_layers(spark, lake: dict[str, str], index, op, tr) -> None:
    """Traced runs only: the query-side layers on their own, on one probe —
    MATE's search and its results, the lake-wide duplicate relations, and
    COCOA's ranking over that MATE result."""
    probe = probe_frame(spark, lake, op)
    qcols, order = list(op.query_columns), list(op.order_by)
    mate = MATE(index)
    _, before = held_storage(spark.sparkContext)
    with tr.span("mate.prepare_s"):
        mate.prepare_input(probe, qcols, order, with_super_key=len(qcols) > 1).count()
    stats: dict = {}
    with tr.span("mate.search_s"):
        res = mate.join_search(
            probe, qcols, k=MATE_K, k_c=MATE_K_C, input_order_by=order, stats=stats
        )
    with tr.span("mate.top_k_s"):
        top_rows = res.top_k.collect()
    tr.record("mate.persisted", held_storage(spark.sparkContext)[1] - before)
    # materialise the join maps with their lineage cut, as the enrichment
    # pipeline does before COCOA reads them
    with tr.span("mate.pairs_s"):
        pairs = res.join_pairs.localCheckpoint()
    top_k = spark.createDataFrame(top_rows, res.top_k.schema)
    tr.record("mate.precision", stats["precision"])
    tr.record("mate.approved", stats["total_approved"])
    with tr.span("duplicates.relations_s"):
        DuplicateDetection(index).get_relations().collect()
    with tr.span("cocoa.multicolumn_s"):
        ids = with_global_row_number(probe, order, out_col="mate_row_id")
        features = COCOA(index).enrich_multicolumn(
            ids, MateResult(top_k=top_k, join_pairs=pairs),
            k_c=ENRICH_K_FEATURES, target_column=op.target,
        ).collect()
    pairs.unpersist()
    tr.record("cocoa.features", len(features))
