"""Physical-plan inspection helpers (SURVEY.md §4 — scale assurance).

The reference's physical plan is compiled in (thread graph,
sendFileByFile.cpp:446-498); ours is chosen by Catalyst — so the scale
properties we rely on (broadcast joins, pushed filters, partial
aggregation, single exchanges) are *asserted*, not assumed:
tests/test_plans.py runs these predicates over the declared queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (what ``.explain('formatted')``
    prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple")


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in simple_plan(df) or (
        "BroadcastNestedLoopJoin" in simple_plan(df))


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters lines of every scan in the plan."""
    return "\n".join(
        line.strip() for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (ReadSchema of each scan) —
    the column-pruning check."""
    import re

    cols: list[str] = []
    for line in formatted_plan(df).splitlines():
        m = re.search(r"ReadSchema: struct<(.*)>", line)
        if m and m.group(1):
            cols.extend(f.split(":")[0] for f in m.group(1).split(","))
    return cols


def n_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan (AQE may collapse some at runtime);
    every one of these is a full network pass over its input."""
    return simple_plan(df).count("Exchange hashpartitioning") + (
        simple_plan(df).count("Exchange rangepartitioning"))


def exchange_inputs(df: DataFrame) -> list[str]:
    """The ``Input [n]: [...]`` column list of every Exchange node in
    the formatted plan — what each shuffle actually moves over the
    network. VERDICT r11 item 1's lesson: a query's bandwidth claim
    is about these lists, not about its scan projection.

    The lookahead scans to the NEXT node header, not a fixed window
    (ADVICE r12): a node whose Arguments line wraps past five lines
    must not silently drop its Input list."""
    import re

    out: list[str] = []
    lines = formatted_plan(df).splitlines()
    for i, line in enumerate(lines):
        if re.match(r"\(\d+\) Exchange", line.strip()):
            for j in range(i + 1, len(lines)):
                if re.match(r"\(\d+\) ", lines[j].strip()):
                    break  # next node: this Exchange had no Input list
                m = re.search(r"Input \[\d+\]: \[(.*)\]", lines[j])
                if m:
                    out.append(m.group(1))
                    break
    return out


def exchange_input_names(df: DataFrame) -> list[list[str]]:
    """:func:`exchange_inputs` with the column NAMES parsed out of each
    list (``lineitem_l_qty#12L`` → ``lineitem_l_qty``) so consumers
    can match whole names instead of raw-substring containment, which
    false-positives on unrelated columns (ADVICE r12: ``"emb" in
    cols`` matches ``members``)."""
    import re

    return [re.findall(r"([A-Za-z_][A-Za-z0-9_ ]*?)#\d+", cols)
            for cols in exchange_inputs(df)]


def is_vector_named(name: str) -> bool:
    """Whether a parsed column name denotes an embedding column by the
    repo's naming convention — matched on '_'-separated components
    (``emb``, ``q_emb``, ``embedding``…), never by raw substring,
    which false-positives on names like ``members`` (ADVICE r12)."""
    return any(part == "emb" or part.startswith("embedding")
               for part in name.split("_"))


def _walk_plan(node, final: bool = False):
    """Depth-first walk of a SparkPlan tree via py4j, descending into
    AQE wrappers: into the pre-execution initialPlan, or with ``final``
    into the plan that ran, through each query stage to its exchange.
    A reused exchange is a leaf: its subtree is walked where it ran."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk_plan(
            node.executedPlan() if final else node.initialPlan(), final)
        return
    yield node
    if cls.endswith("QueryStageExec"):
        yield from _walk_plan(node.plan(), final)
        return
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_plan(it.next(), final)


def _columns(node) -> list[str]:
    """``name:type`` of each output column of a plan node."""
    out: list[str] = []
    it = node.output().iterator()
    while it.hasNext():
        attr = it.next()
        out.append(f"{attr.name()}:{attr.dataType().simpleString()}")
    return out


def exchange_array_columns(df: DataFrame) -> list[list[str]]:
    """Per shuffle Exchange, the input columns whose TYPE is (or
    contains) an array/map — the exchange-thinness audit in types
    rather than names (VERDICT r12 item 2). A query whose bandwidth
    story is "signatures/scalars through the shuffle, vectors stay in
    their scan" must return only empty lists here; each entry is
    ``name:type`` for the offending columns of one Exchange."""
    plan = df._jdf.queryExecution().executedPlan()  # type: ignore[attr-defined]
    return [[c for c in _columns(node.child())
             if "array<" in c or "map<" in c]
            for node in _walk_plan(plan)
            if node.getClass().getSimpleName() == "ShuffleExchangeExec"]


#: exchange class -> its SQL metrics for records and bytes written
_WRITTEN = {
    "ShuffleExchangeExec": ("shuffleRecordsWritten", "shuffleBytesWritten"),
    "BroadcastExchangeExec": ("numOutputRows", "dataSize"),
}


def _map_side(node) -> list[str]:
    """Node names of the pipeline under an exchange, down to the query
    stages it reads."""
    names: list[str] = []
    stack = [node.child()]
    while stack:
        n = stack.pop()
        names.append(n.nodeName())
        cls = n.getClass().getSimpleName()
        if not cls.endswith("QueryStageExec") and cls != "ReusedExchangeExec":
            it = n.children().iterator()
            while it.hasNext():
                stack.append(it.next())
    return names


def final_exchanges(df: DataFrame) -> list[dict]:
    """Each Exchange that ran in ``df``'s final adaptive plan, once,
    in plan order; call it after an action on ``df``. Per exchange:
    ``node`` (its one-line form: partitioning, and a shuffle's
    origin), ``input`` (``name:type`` of each column it moves),
    ``map_side`` (:func:`_map_side`), and ``records`` and ``bytes``
    written (for a broadcast, its rows and data size)."""
    plan = df._jdf.queryExecution().executedPlan()  # type: ignore[attr-defined]
    out: list[dict] = []
    for node in _walk_plan(plan, final=True):
        written = _WRITTEN.get(node.getClass().getSimpleName())
        if written is None:
            continue
        metrics = node.metrics()
        records, nbytes = (metrics.get(k).get().value() for k in written)
        out.append({"node": node.simpleString(100),
                    "input": _columns(node.child()),
                    "map_side": _map_side(node),
                    "records": records, "bytes": nbytes})
    return out


def has_partial_aggregation(df: DataFrame) -> bool:
    """Partial/final HashAggregate pair — the map-side combine the
    reference hand-built (sendFileByFile.cpp:150-200)."""
    plan = simple_plan(df)
    return plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 2
