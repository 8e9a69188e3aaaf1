"""Arrow-batched extraction over a pages DataFrame.

The hot path of the engine: Arrow-batched ``mapInArrow`` — the ONLY
JVM↔Python boundary in the job, amortized per batch (no per-row
Python, BASELINE.json:15; design per "Accelerating Python UDFs in
Vectorized Query Execution", CIDR 2022 — see PAPERS.md). Per batch we loop documents in Python
(DOM parsing is inherently per-document), parse each page's HTML once,
and evaluate the entire compiled rule tree against it (SURVEY.md §3.2).

Each page's DOM is freed when its document ends. A parsed tree is a
reference cycle (``Element.parent`` ↔ ``children``, and
``DocIndex.eval_ctx`` ↔ ``_EvalCtx.index``), so only CPython's cyclic
collector can free it; at its default threshold the collector
re-traverses live, half-built trees many times per heavy page. The
per-document loops therefore run under ``dom.parser.each_document``:
automatic collection paused, one generation-0 collection after each
document, counted in its ``parse_ns``.

Failure isolation (SURVEY.md §2.8 I4): a poison document yields
``extracted = NULL`` plus an ``error`` string and is counted in the
per-partition metrics — it never kills the job.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from goose_parser_spark.dom.parser import each_document
from goose_parser_spark.rules.compiler import CompiledRules, RuleCompiler
from goose_parser_spark.rules.evaluator import evaluate_document

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


def output_schema(compiled: CompiledRules, url_col: str = "url",
                  udf: bool = False) -> StructType:
    """Schema of the extractor output: url + extracted + error + parse_ns.

    ``parse_ns`` rides along per document so per-partition metrics can
    be aggregated from the output table in one pass, without a second
    trip through Python (SURVEY.md §2.8 I2). ``udf=True`` yields the
    schema the Python UDF emits BEFORE native transform suffixes are
    applied post-UDF (functions/native.py).
    """
    extracted = (compiled.udf_schema or compiled.schema) if udf \
        else compiled.schema
    return StructType([
        StructField(url_col, StringType(), False),
        StructField("extracted", extracted, True),
        StructField("error", StringType(), True),
        StructField("parse_ns", LongType(), True),
        StructField("bytes_in", LongType(), True),
    ])


def _html_values(hcol) -> tuple[list, list[int]]:
    """An html Arrow column as Python ``str`` values (None for NULL)
    plus each row's ``bytes_in``.

    One C-level materialization per batch (vs per-element scalar
    wrappers or a pandas object Series). Binary html is cast to utf8
    FIRST: the cast validates+reinterprets buffers in C and to_pylist
    then builds str objects directly — skipping n intermediate bytes
    objects and n per-doc .decode() calls (~7% of batch time at 16
    cores). Invalid utf-8 anywhere in the batch falls back to the
    per-doc decode path so poison docs stay isolated (I4).
    ``bytes_in`` is the true byte size for binary html and the length
    for string html; 0 for NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not (pa.types.is_binary(hcol.type) or pa.types.is_large_binary(hcol.type)):
        raws = hcol.to_pylist()
        return raws, [len(r) if r is not None else 0 for r in raws]
    sizes = pc.binary_length(hcol).fill_null(0).to_pylist()
    try:
        return hcol.cast(pa.large_string()).to_pylist(), sizes
    except pa.ArrowInvalid:
        return [b.decode("utf-8", errors="replace") if b is not None else None
                for b in hcol.to_pylist()], sizes


def build_arrow_extractor(
    compiled: CompiledRules,
    html_col: str = "html",
    url_col: str = "url",
    keep_cols: tuple[str, ...] = (),
    spark_schema: StructType | None = None,
):
    """Build the mapInArrow function for a compiled rule tree.

    The compiled plan (parsed selectors, compiled transforms, derived
    schema) is captured in the closure — pickled once and shipped to
    every executor, the moral equivalent of a broadcast variable. The
    function consumes/produces raw Arrow RecordBatches, skipping the
    Arrow→pandas→Arrow conversion of multi-KB html blobs (one fewer
    copy + no per-row object-array churn — measurable at high core
    counts where allocator traffic contends on the kernel mmap lock).
    It runs the transform chain minus the natively lowered suffixes,
    which :func:`extract` applies post-UDF (functions/native.py)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    out_arrow_schema = to_arrow_schema(spark_schema)

    def extract_batches(batches):
        import pyarrow as pa

        for batch in batches:
            names = batch.schema.names
            urls = batch.column(names.index(url_col))
            raws, bytes_in = _html_values(batch.column(names.index(html_col)))
            n = batch.num_rows
            extracted: list[object] = [None] * n
            errors: list[str | None] = [None] * n
            parse_ns: list[int] = [0] * n
            for i in each_document(range(n), parse_ns):
                try:
                    if raws[i] is None:
                        raise ValueError("html is NULL")
                    extracted[i] = evaluate_document(compiled, raws[i],
                                                     skip_lowered=True)
                except Exception as exc:  # noqa: BLE001 — I4 poison isolation
                    errors[i] = f"{type(exc).__name__}: {exc}"
            arrays = [
                urls,
                pa.array(extracted, type=out_arrow_schema.field("extracted").type),
                pa.array(errors, type=pa.string()),
                pa.array(parse_ns, type=pa.int64()),
                pa.array(bytes_in, type=pa.int64()),
            ]
            for c in keep_cols:
                arrays.append(batch.column(names.index(c)))
            yield pa.RecordBatch.from_arrays(arrays, schema=out_arrow_schema)

    return extract_batches


def extract(
    df: "DataFrame",
    rules: dict | CompiledRules,
    html_col: str = "html",
    url_col: str = "url",
    keep_cols: tuple[str, ...] = (),
) -> "DataFrame":
    """Run rule-tree extraction over a pages DataFrame.

    Selects only the needed columns FIRST so Catalyst prunes the scan
    to ``url, html`` (+ keep_cols) — at 10^12 docs the html blob is the
    only heavy column we should ever deserialize (SURVEY.md §4.1/§4.2).
    """
    from goose_parser_spark.deploy import ship_package
    ship_package(df.sparkSession)

    compiled = rules if isinstance(rules, CompiledRules) else RuleCompiler().compile(rules)
    cols = [url_col, html_col, *keep_cols]
    pruned = df.select(*dict.fromkeys(cols))
    schema = output_schema(compiled, url_col=url_col, udf=True)
    if keep_cols:
        extra_fields = [pruned.schema[c] for c in keep_cols]
        schema = StructType(schema.fields + extra_fields)
    fn = build_arrow_extractor(compiled, html_col=html_col, url_col=url_col,
                               keep_cols=keep_cols, spark_schema=schema)
    out = pruned.mapInArrow(fn, schema=schema)
    if compiled.has_lowered:
        # apply the native transform suffixes post-UDF: per-value work
        # Catalyst can run byte-identically stays out of the Python
        # workers entirely (functions/native.py; SURVEY.md §2.5)
        out = out.withColumn("extracted", _lowered_extracted(compiled, out))
    return out


def extract_many(
    df: "DataFrame",
    rules_by_name: dict[str, dict | CompiledRules],
    html_col: str = "html",
    url_col: str = "url",
) -> "DataFrame":
    """Multi-tenant extraction: evaluate SEVERAL rule trees against one
    parse of each document — at 100 TB the scan + DOM parse dominate,
    so N consumers' rules in one pass cost ~1/N of N separate jobs.
    The per-document selector memo is shared across trees (overlapping
    scopes are evaluated once).

    Output: ``url, extracted (struct of per-tree structs), error,
    parse_ns, bytes_in``. A tree whose evaluation fails yields NULL for
    that tree and a ``tree=<name>: <err>`` entry in ``error`` — one bad
    ruleset never poisons the other tenants (I4 per-tree isolation).
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from goose_parser_spark.deploy import ship_package
    ship_package(df.sparkSession)

    compiled = {
        name: (r if isinstance(r, CompiledRules) else RuleCompiler().compile(r))
        for name, r in rules_by_name.items()
    }
    extracted_schema = StructType([
        StructField(name, c.schema, True) for name, c in compiled.items()
    ])
    schema = StructType([
        StructField(url_col, StringType(), False),
        StructField("extracted", extracted_schema, True),
        StructField("error", StringType(), True),
        StructField("parse_ns", LongType(), True),
        StructField("bytes_in", LongType(), True),
    ])
    out_arrow_schema = to_arrow_schema(schema)
    names_in_order = list(compiled)

    def run(batches):
        import pyarrow as pa
        from goose_parser_spark.rules.evaluator import (
            _DocContext, _union_universe, evaluate_branches)
        from goose_parser_spark.dom.parser import parse_document

        universe = _union_universe(compiled.values())

        def evaluate_trees(raw: str, errs: list[str]) -> dict[str, object]:
            # the parsed tree lives only in this frame, so it is
            # garbage by the time each_document collects
            root, elements = parse_document(raw)
            doc = _DocContext(root, elements, universe=universe)
            row: dict[str, object] = {}
            for name in names_in_order:
                try:
                    row[name] = evaluate_branches(compiled[name].branches, doc)
                except Exception as exc:  # noqa: BLE001 — per-tree I4
                    row[name] = None
                    errs.append(f"tree={name}: {type(exc).__name__}: {exc}")
            return row

        for batch in batches:
            cols = batch.schema.names
            urls = batch.column(cols.index(url_col))
            raws, bytes_in = _html_values(batch.column(cols.index(html_col)))
            n = batch.num_rows
            extracted: list[object] = [None] * n
            errors: list[str | None] = [None] * n
            parse_ns: list[int] = [0] * n
            for i in each_document(range(n), parse_ns):
                errs: list[str] = []
                try:
                    if raws[i] is None:
                        raise ValueError("html is NULL")
                    extracted[i] = evaluate_trees(raws[i], errs)
                except Exception as exc:  # noqa: BLE001 — I4 isolation
                    errs.append(f"{type(exc).__name__}: {exc}")
                if errs:
                    errors[i] = "; ".join(errs)
            yield pa.RecordBatch.from_arrays([
                urls,
                pa.array(extracted,
                         type=out_arrow_schema.field("extracted").type),
                pa.array(errors, type=pa.string()),
                pa.array(parse_ns, type=pa.int64()),
                pa.array(bytes_in, type=pa.int64()),
            ], schema=out_arrow_schema)

    pruned = df.select(url_col, html_col)
    return pruned.mapInArrow(run, schema=schema)


def _lowered_extracted(compiled: CompiledRules, df: "DataFrame"):
    """Column expression rebuilding `extracted` with each leaf's
    lowered transform suffix applied (single-branch trees only — the
    compiler clears lowering on conditional specs)."""
    from pyspark.sql import functions as F
    from goose_parser_spark.functions.native import apply_native_suffix
    from goose_parser_spark.rules.compiler import CompiledRule

    def rebuild(rule: CompiledRule, col):
        if rule.children:
            fields = [c for c in rule.children if not c.virtual]

            def build(node):
                return F.struct(*[
                    rebuild(c, node.getField(c.name or "")).alias(c.name or "")
                    for c in fields
                ])

            if rule.is_grid:
                return F.transform(col, build)
            return build(col)
        return apply_native_suffix(rule.lowered_specs, col)

    root = compiled.branches[0].rules
    col = F.col("extracted")
    if root.children:
        new = rebuild(root, col)
    else:
        name = root.name or ""
        new = F.struct(rebuild(root, col.getField(name)).alias(name))
    # error docs carry extracted = NULL; keep them NULL (a rebuilt
    # struct of NULL fields would un-NULL the column)
    return F.when(col.isNotNull(), new)
