"""The lambda rule, checked on optimized plans: the body of a
higher-order function's lambda may reference only its own lambda
variables, literals, attributes and O(1) scalar arithmetic over them.
An array or string that the lambda indexes, slices or reduces must be
evaluated once per row (bound to a column by an earlier select, or
passed as a higher-order-function argument); otherwise Spark evaluates
it again for every element, and a per-row O(n) pass becomes O(n²).

Checked on ``optimizedPlan()`` because ``CollapseProject`` may inline a
single-use binding back into the lambda. Plans only: no job runs.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from optimus_any2any_spark.queries import all_queries
from tests.conftest import SF_DIR

# Catalyst classes whose evaluation is O(n) or worse in their input:
# split, sequence, sorts, higher-order functions and the collection
# functions that build or scan an array. A loop-invariant lambda
# subtree containing one is re-evaluated per element for nothing.
_HEAVY = {
    "StringSplit", "Sequence", "ArraySort", "SortArray", "ArrayMin",
    "ArrayMax", "ArrayDistinct", "ArrayJoin", "ArrayContains",
    "ArrayPosition", "ArrayRemove", "ArrayUnion", "ArrayIntersect",
    "ArrayExcept", "ArraysOverlap", "Flatten", "Slice", "Concat",
    "ConcatWs", "Reverse", "ArrayRepeat", "ArraysZip", "CreateArray",
    "ArrayInsert", "ArrayAppend", "ArrayCompact", "MapKeys", "MapValues",
    "MapEntries", "MapFromArrays", "ArrayTransform", "ArrayFilter",
    "ArrayAggregate", "ArrayExists", "ArrayForAll", "ZipWith",
    "MapFilter", "TransformKeys", "TransformValues", "MapZipWith",
}
_LEAVES = {
    "AttributeReference", "Literal", "NamedLambdaVariable", "OuterReference",
}
_EXPR = "org.apache.spark.sql.catalyst.expressions."


def _name(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _tree(nodes: list, pos: int = 0):
    """(node, children) from a pre-order ``toJSON`` list."""
    node, kids, pos = nodes[pos], [], pos + 1
    for _ in range(node["num-children"]):
        kid, pos = _tree(nodes, pos)
        kids.append(kid)
    return (node, kids), pos


def _heavy(t) -> bool:
    n = _name(t[0])
    return n in _HEAVY or n.lower().startswith("regexp") or any(
        _heavy(k) for k in t[1]
    )


def _free_vars(t) -> set:
    node, kids = t
    if _name(node) == "NamedLambdaVariable":
        return {node["exprId"]["id"]}
    out = set().union(*map(_free_vars, kids))
    if _name(node) == "LambdaFunction":
        out -= {k[0]["exprId"]["id"] for k in kids[1:]}
    return out


def _render(t) -> str:
    node, kids = t
    if _name(node) in _LEAVES:
        return str(node.get("name", node.get("value")))
    return f"{_name(node)}({', '.join(map(_render, kids))})"


def _invariants(body, bound: set, out: list) -> None:
    """Maximal subtrees of a lambda ``body`` that read none of its
    ``bound`` variables and hold heavy work."""
    if _name(body[0]) in _LEAVES:
        return
    if not _free_vars(body) & bound:
        if _heavy(body):
            out.append(_render(body))
        return
    for k in body[1]:
        _invariants(k, bound, out)


def _expressions(value, out: list) -> None:
    if isinstance(value, list):
        if value and isinstance(value[0], dict) and value[0].get(
            "class", ""
        ).startswith(_EXPR):
            out.append(_tree(value)[0])
            return
        for v in value:
            _expressions(v, out)
    elif isinstance(value, dict):
        for v in value.values():
            _expressions(v, out)


def lambda_invariants(df) -> list[str]:
    """Loop-invariant heavy subtrees inside the lambdas of ``df``'s
    optimized plan, rendered; empty when the plan keeps the rule."""
    plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    exprs: list = []
    for node in plan:
        _expressions([v for k, v in node.items() if k != "class"], exprs)
    found: list[str] = []
    stack = exprs
    while stack:
        t = stack.pop()
        if _name(t[0]) == "LambdaFunction":
            body, args = t[1][0], t[1][1:]
            _invariants(body, {a[0]["exprId"]["id"] for a in args}, found)
        stack.extend(t[1])
    return found


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "a b c d e f"), (2, "  x  y "), (3, None)],
        "doc_id long, text string",
    )


def test_guard_flags_a_split_inside_a_lambda(spark, docs):
    toks = F.split(F.col("text"), " ")
    bad = docs.select(
        F.transform(
            F.sequence(F.lit(1), F.size(toks)), lambda i: F.get(toks, i)
        )
    )
    assert lambda_invariants(bad), "the guard must see the re-split"
    bound = docs.select(toks.alias("t")).select(
        F.transform(F.sequence(F.lit(1), F.size("t")), lambda i: F.get("t", i))
    )
    assert lambda_invariants(bound) == []


def test_shingles_and_ngrams(spark, docs):
    from optimus_any2any_spark.operators.dedup import shingles
    from optimus_any2any_spark.operators.text import ngram_rows

    assert lambda_invariants(shingles(docs)) == []
    assert lambda_invariants(ngram_rows(docs, n=2)) == []


def test_passage_chunks(spark, docs):
    from optimus_any2any_spark.operators.dedup import passage_dedup

    assert lambda_invariants(passage_dedup(docs, chunk_words=2)) == []


def test_bpe_pair_counts(spark):
    from optimus_any2any_spark.operators.tokenizer import _pair_counts

    cur = spark.createDataFrame(
        [("low", 3, "<l><o><w>")], "w string, cnt long, seq string"
    )
    assert lambda_invariants(_pair_counts(cur)) == []


def test_quantize_int8(spark):
    from optimus_any2any_spark.operators.similarity import quantize_int8

    vecs = spark.createDataFrame(
        [(1, [0.5, -1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    assert lambda_invariants(quantize_int8(vecs)) == []


@pytest.mark.parametrize(
    "program",
    [
        "{id, u: (.objs | sort_by(.v) | unique_by(.k))}",
        "{id, u: (.objs | sort_by(.v) | group_by(.k))}",
        "{id, u: (.xs | map(. * 2) | indices(2))}",
        "{id, u: (.xs | map(. * 2) | indices([2, 4]))}",
        "{id, u: ((.xs | sort) - (.ys | sort))}",
    ],
)
def test_jq_array_builtins(spark, program):
    from optimus_any2any_spark.compiler.jq import translate_jq

    df = spark.createDataFrame(
        [(1, [3, 1, 2, 1], [1], [("x", 1), ("y", 2), ("x", 0)])],
        "id long, xs array<long>, ys array<long>, "
        "objs array<struct<k:string,v:long>>",
    )
    assert lambda_invariants(translate_jq(df, program)) == []


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",
        "dedup_containment",
        "dedup_passage",
        "dedup_span_exact",
        "text_repetition_filter",
        "text_ngram_novelty",
        "text_bigram_logprob",
        "contamination_4gram",
        "split_leakage_audit",
        "mix_dsir_importance",
        "embedding_quantize_int8",
    ],
)
def test_registry_queries(spark, name):
    df = all_queries()[name].spark(spark, SF_DIR)
    assert lambda_invariants(df) == []
