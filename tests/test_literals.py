"""functions/literals.py: the one way for driver values to enter a plan, and
the one bounded way for rows to leave it."""

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from knowledge_graph_studio_spark.functions.literals import (
    bounded_collect, literal_array, literal_df,
)

PKG = Path(__file__).resolve().parent.parent / "knowledge_graph_studio_spark"

# (file under the package, function) allowed to build a frame from a list
# itself: its rows carry bytes, which JSON cannot hold
ALLOWED = {("operators/multimodal.py", "synthetic_media")}

# functions in operators/, plans/ and pipeline.py allowed a raw .collect() or
# .toPandas(): each one's result is bounded by construction; any other
# data-sized result leaves through bounded_collect
COLLECT_ALLOWED = {
    "duplicate_rate": "one-row aggregates",
    "connected_components._sig": "one-row aggregate",
    "fit_dsir": "one-row aggregate",
    "fit_lm_unigram": "one-row aggregate",
    "lm_bucket_thresholds": "one-row aggregate",
    "suggest_gopher_thresholds": "cols x quantiles",
    "validate_triples": "limit(5)",
    "fit_bpe": "top max_words",
    "ivf_centroids": "k rows",
    "_lloyd_step": "k x dim rows",
    "induce_schema": "the schema's patterns",
    "assign_chunks": "at most target_ids rows",
    "EdgeAnnIndex.load": "one meta row",
    "EdgeAnnIndex.candidate_ids": "top max_candidates",
    "_query_graph": "top params.limit",
    "query_graph": "log ids, human-scale by the Entry C contract",
}


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


# --------------------------------------------------------------------------- #
# rows out: bounded_collect, and a source scan keeping collects bounded
# --------------------------------------------------------------------------- #

def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bounded_collect_bound_order_and_jobs(spark):
    df = spark.range(0, 40, 1, 8)
    assert sorted(r.id for r in bounded_collect(df, 40)) == list(range(40))
    assert bounded_collect(df, 39) is None
    assert bounded_collect(df.filter("id < 0"), 0) == []
    ordered = df.orderBy(F.desc("id"))
    assert [r.id for r in bounded_collect(ordered, 40)] == \
        list(range(39, -1, -1))
    # the probe is the fetch: no count job ahead of the collect
    assert _jobs_of(spark, lambda: bounded_collect(df, 100)) == 1


class _CollectScan(ast.NodeVisitor):
    def __init__(self):
        self.scope, self.hits = [], []

    def _enter(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_FunctionDef = visit_ClassDef = _enter

    def visit_Call(self, node):
        f, args = node.func, node.args
        where = ".".join(self.scope) or "<module>"
        if (isinstance(f, ast.Attribute) and f.attr == "limit" and args
                and isinstance(args[0], ast.BinOp)
                and isinstance(args[0].op, ast.Add)
                and isinstance(args[0].right, ast.Constant)
                and args[0].right.value == 1):
            self.hits.append((where, "limit(+1)"))
        elif (isinstance(f, ast.Attribute)
              and f.attr in ("collect", "toPandas") and not args):
            self.hits.append((where, f.attr))
        self.generic_visit(node)


def _driver_exits(source):
    scan = _CollectScan()
    scan.visit(ast.parse(source))
    return scan.hits


def test_source_scan_detects_each_unbounded_exit():
    src = '''
class Index:
    def load(self, df, n):
        return df.limit(n + 1).collect()

def site(df, rows):
    a = df.toPandas()
    b = [r for r in rows.collect()]
    c = df.limit(5)
'''
    assert _driver_exits(src) == [("Index.load", "collect"),
                                  ("Index.load", "limit(+1)"),
                                  ("site", "toPandas"),
                                  ("site", "collect")]


def test_rows_leave_plans_only_through_bounded_collect():
    probes, unlisted, listed = [], [], set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "functions/literals.py":
            continue
        scoped = (rel.startswith(("operators/", "plans/"))
                  or rel == "pipeline.py")
        for where, kind in _driver_exits(path.read_text()):
            if kind == "limit(+1)":
                probes.append((rel, where))
            elif scoped and where in COLLECT_ALLOWED:
                listed.add(where)
            elif scoped:
                unlisted.append((rel, where, kind))
    assert probes == [], probes
    assert unlisted == [], unlisted
    # every allowlisted function still holds a collect
    assert listed == set(COLLECT_ALLOWED), set(COLLECT_ALLOWED) - listed


# --------------------------------------------------------------------------- #
# the token layer: one tokenizer, one window builder, one 64-bit key family,
# all in functions/text.py
# --------------------------------------------------------------------------- #

def test_token_windows_guard_short_null_and_empty_docs(spark):
    from knowledge_graph_studio_spark.functions.text import (
        token_windows, tokens,
    )

    k = 3
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a b"), (3, "a b c"), (4, "a b c d")],
        "id int, text string")
    got = {r["id"]: r["w"] for r in df.select(
        "id", token_windows(tokens("text"), k,
                            lambda w, i: F.struct(i.alias("i"),
                                                  w.alias("w"))).alias("w"))
        .collect()}
    assert got[0] == [] and got[1] == [] and got[2] == []
    assert [tuple(x) for x in got[3]] == [(1, ["a", "b", "c"])]
    assert [tuple(x) for x in got[4]] == [(1, ["a", "b", "c"]),
                                          (2, ["b", "c", "d"])]


def _is_f_call(node, name):
    return isinstance(node, ast.Call) and _is_f(node.func, name)


def _size_rooted(expr):
    """``F.size(..)`` possibly followed by arithmetic (``F.size(t) - 1``)."""
    while isinstance(expr, ast.BinOp):
        expr = expr.left
    return _is_f_call(expr, "size")


class _TokenScan(_CollectScan):
    def visit_Call(self, node):
        f, args = node.func, node.args
        where = ".".join(self.scope) or "<module>"
        if (_is_f(f, "sequence") and len(args) == 2
                and _is_f_call(args[0], "lit") and args[0].args
                and isinstance(args[0].args[0], ast.Constant)
                and args[0].args[0].value == 1 and _size_rooted(args[1])):
            self.hits.append((where, "F.sequence(F.lit(1), F.size("))
        elif (_is_f(f, "split") and len(args) == 2
              and isinstance(args[1], ast.Constant) and args[1].value == " "):
            self.hits.append((where, 'F.split(<col>, " ")'))
        elif (_is_f(f, "conv") and args and _is_f_call(args[0], "substring")
              and args[0].args and _is_f_call(args[0].args[0], "md5")):
            self.hits.append((where, "F.conv(F.substring(F.md5("))
        self.generic_visit(node)


def _token_layer_copies(source):
    scan = _TokenScan()
    scan.visit(ast.parse(source))
    return scan.hits


def test_source_scan_detects_each_hand_rolled_token_step():
    src = '''
def site(t, k):
    a = F.when(F.size(t) >= k, F.sequence(F.lit(1), F.size(t) - (k - 1)))
    b = F.split(F.lower(F.col("text")), " ")
    c = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    d = F.split(F.col("text"), "\\n")
    e = F.sequence(F.lit(0), F.size(t))
'''
    assert _token_layer_copies(src) == [
        ("site", "F.sequence(F.lit(1), F.size("),
        ("site", 'F.split(<col>, " ")'),
        ("site", "F.conv(F.substring(F.md5("),
    ]


def test_token_layer_lives_in_functions_text_alone():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel.startswith(("operators/", "plans/")) or rel == "pipeline.py":
            found += [(rel, *hit)
                      for hit in _token_layer_copies(path.read_text())]
    assert found == [], found
    kinds = {kind for _, kind in _token_layer_copies(
        (PKG / "functions" / "text.py").read_text())}
    assert kinds == {"F.sequence(F.lit(1), F.size(", 'F.split(<col>, " ")',
                     "F.conv(F.substring(F.md5("}
