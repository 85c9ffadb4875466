"""functions/literals.py: the one way for driver values to enter a plan."""

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from knowledge_graph_studio_spark.functions.literals import (
    literal_array, literal_df,
)

PKG = Path(__file__).resolve().parent.parent / "knowledge_graph_studio_spark"

# (file under the package, function) allowed to build a frame from a list
# itself: its rows carry bytes, which JSON cannot hold
ALLOWED = {("operators/multimodal.py", "synthetic_media")}


def test_literal_df_thousand_rows_costs_constant_calls(spark, gateway_calls):
    rows = [(f"k{i}", i, i * 0.5) for i in range(1000)]
    n, df = gateway_calls(
        lambda: literal_df(spark, rows, "k string, v int, w double"))
    assert n <= 32, n
    assert df.schema.simpleString() == "struct<k:string,v:int,w:double>"
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)
    assert df.rdd.getNumPartitions() == 1


def test_literal_array_query_vector_costs_constant_calls(spark,
                                                         gateway_calls):
    import numpy as np

    qv = np.random.default_rng(7).standard_normal(1024)
    n, col = gateway_calls(lambda: literal_array(qv.tolist(), "double"))
    assert n <= 32, n
    got = spark.range(1).select(col.alias("v")).first()["v"]
    assert got == qv.tolist()  # bit-equal doubles


def test_literal_array_folds_to_one_literal(spark):
    df = spark.range(3).select(
        F.array_contains(literal_array(["a", "b"], "string"),
                         F.col("id").cast("string")).alias("hit"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan and "[a,b]" in plan, plan


@pytest.mark.parametrize("build", [
    lambda spark: literal_df(spark, [("a", 2 ** 40)], "k string, v int"),
    lambda spark: literal_df(spark, [("a", "x")], "k string, v int"),
    lambda spark: spark.range(1).select(
        literal_array(["x", 1.5], "bigint").alias("a")),
])
def test_values_that_do_not_fit_the_schema_raise(spark, build):
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        build(spark).collect()


def test_literal_df_empty_rows_are_a_typed_empty_frame(spark):
    df = literal_df(spark, [], "member bigint, tags array<string>")
    assert df.schema.simpleString() == "struct<member:bigint,tags:array<string>>"
    assert df.collect() == []


def test_validate_triples_without_patterns_rejects_every_triple(spark):
    from knowledge_graph_studio_spark.operators.extraction import (
        validate_triples,
    )

    triples = spark.createDataFrame(
        [("Ada", "person", "runs", "Acme", "company"),
         ("Acme", "company", "located in", "London", "city")],
        "head string, head_type string, relation string, tail string, "
        "tail_type string")
    valid, invalid = validate_triples(triples, [])
    assert valid.collect() == []
    assert sorted(invalid.select(*triples.columns).collect()) == \
        sorted(triples.collect())


# --------------------------------------------------------------------------- #
# source scan: nothing builds a plan literal outside functions/literals.py
# --------------------------------------------------------------------------- #

def _is_f(func, name):
    return (isinstance(func, ast.Attribute) and func.attr == name
            and isinstance(func.value, ast.Name) and func.value.id == "F")


def _numpy_built(expr):
    return any(
        (isinstance(n, ast.Name) and n.id in ("np", "numpy", "embed_text"))
        or (isinstance(n, ast.Attribute) and n.attr == "astype")
        for n in ast.walk(expr))


def _lit_rooted(expr):
    """``F.lit(..)`` possibly followed by method calls (``.cast(..)``)."""
    while isinstance(expr, ast.Call) and not _is_f(expr.func, "lit"):
        if not isinstance(expr.func, ast.Attribute):
            return False
        expr = expr.func.value
    return isinstance(expr, ast.Call)


class _Scan(ast.NodeVisitor):
    def __init__(self):
        self.fn, self.arrays, self.hits = ["<module>"], [set()], []

    def visit_FunctionDef(self, node):
        self.fn.append(node.name)
        self.arrays.append(self.arrays[-1] | {
            t.id for n in ast.walk(node)
            if isinstance(n, ast.Assign) and _numpy_built(n.value)
            for t in n.targets if isinstance(t, ast.Name)})
        self.generic_visit(node)
        self.fn.pop()
        self.arrays.pop()

    def visit_Call(self, node):
        f, args = node.func, node.args
        if (_is_f(f, "array") and args and isinstance(args[0], ast.Starred)
                and isinstance(args[0].value, (ast.ListComp, ast.GeneratorExp))
                and _lit_rooted(args[0].value.elt)):
            self.hits.append((self.fn[-1], "F.array(*[F.lit("))
        elif _is_f(f, "lit") and args and (
                _numpy_built(args[0]) or (isinstance(args[0], ast.Name)
                                          and args[0].id in self.arrays[-1])):
            self.hits.append((self.fn[-1], "F.lit(<ndarray>)"))
        elif isinstance(f, ast.Attribute) and f.attr == "createDataFrame":
            self.hits.append((self.fn[-1], "createDataFrame(<list>"))
        self.generic_visit(node)


def _bypasses(source):
    scan = _Scan()
    scan.visit(ast.parse(source))
    return scan.hits


def test_source_scan_detects_each_hand_rolled_literal():
    src = '''
def site(spark, xs, q):
    a = F.array(*[F.lit(x) for x in xs])
    b = F.array(*[F.lit(int(x)).cast("long") for x in xs])
    qv = embed_text(q, 8).astype("float64")
    c = F.lit(qv)
    d = spark.createDataFrame(xs, "x int")
    e = F.array(*[F.struct(F.lit(x).alias("k")) for x in xs])  # a tree
    f = F.lit(3)
'''
    assert _bypasses(src) == [("site", "F.array(*[F.lit("),
                              ("site", "F.array(*[F.lit("),
                              ("site", "F.lit(<ndarray>)"),
                              ("site", "createDataFrame(<list>")]


def test_driver_values_enter_plans_only_through_literals():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "functions/literals.py":
            continue
        found += [(rel, fn, kind) for fn, kind in _bypasses(path.read_text())
                  if (rel, fn) not in ALLOWED]
    assert found == [], found
