"""The per-document Arrow driver behind every sequence operator
(``operators.profile._per_doc``) and ostinato's grouped Arrow plan: null
sequences are skipped, a null element is NaN, and no plan crosses into
Python through pandas."""

import numpy as np

from stumpy_spark.operators import discovery as D
from stumpy_spark.operators import profile as ops

M = 4


def _docs():
    rs = np.random.RandomState(5)
    docs = {}
    for did, n in (("a", 60), ("b", 48)):
        t = rs.randint(0, 50, n)
        t[30:30 + M] = t[3:3 + M]
        docs[did] = [int(x) for x in t]
    return docs


def _operators(spark):
    """name → (DataFrame of ``doc_id``/``tokens``/``source``) → output,
    for every operator on the per-document driver and for ostinato."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "nul"), ("nul", "b")], "id_a string, id_b string")
    return {
        "stump": lambda df: ops.stump(df, M),
        "aamp": lambda df: ops.aamp(df, M),
        "mass": lambda df: ops.mass(df, [3.0, 1.0, 4.0, 1.0, 5.0]),
        "motifs": lambda df: D.motifs(df, M),
        "fluss": lambda df: D.fluss(df, M),
        "snippets": lambda df: D.snippets(df, M),
        "longest_chain": lambda df: D.longest_chain(df, M),
        "stimp": lambda df: D.stimp(df, [M, 2 * M]),
        "scrump": lambda df: D.scrump(df, M, percentage=1.0,
                                      pre_scrump=False),
        "mpdist_pairs": lambda df: D.mpdist_pairs(df, pairs, M),
        "ostinato": lambda df: D.ostinato(df, M),
    }


def _dims_operators():
    return {"mstump": lambda df: D.mstump(df, M),
            "mmotifs": lambda df: D.mmotifs(df, M)}


def _frame(spark, rows, elem="int"):
    return spark.createDataFrame(
        [(did, toks, "g") for did, toks in rows],
        f"doc_id string, tokens array<{elem}>, source string")


def _rows(df, drop=()):
    return sorted(tuple(repr(v) for k, v in r.asDict().items()
                        if k not in drop) for r in df.collect())


def test_null_sequence_is_skipped(spark):
    docs = _docs()
    with_null = _frame(spark, list(docs.items()) + [("nul", None)])
    without = _frame(spark, list(docs.items()))
    for name, op in _operators(spark).items():
        got, exp = op(with_null), op(without)
        if name == "ostinato":
            # the null member counts in the group but not in the search
            row = got.collect()[0]
            assert (row.n_used, row.n_group) == (2, 3)
            assert _rows(got, ("n_group",)) == _rows(exp, ("n_group",))
            continue
        assert _rows(got) == _rows(exp) != [], name

    a = [float(x) for x in docs["a"]]
    schema = "doc_id string, dims array<array<double>>"
    with_null = spark.createDataFrame(
        [("a", [a, a[::-1]]), ("nul", None), ("nul_dim", [a, None])], schema)
    without = spark.createDataFrame([("a", [a, a[::-1]])], schema)
    for name, op in _dims_operators().items():
        assert _rows(op(with_null)) == _rows(op(without)) != [], name


def test_null_element_reads_as_nan(spark):
    """A doc with a null element gives the output of the float series
    with NaN at that position."""
    toks = _docs()["a"]
    ints = [None if i == 17 else x for i, x in enumerate(toks)]
    floats = [float("nan") if i == 17 else float(x)
              for i, x in enumerate(toks)]
    with_null = _frame(spark, [("a", ints), ("b", toks)])
    with_nan = _frame(spark, [("a", floats), ("b", [float(x) for x in toks])],
                      elem="double")
    for name, op in _operators(spark).items():
        assert _rows(op(with_null)) == _rows(op(with_nan)), name

    dims = [[float(x) for x in toks], [float(x) for x in toks[::-1]]]
    nan_dims = [list(d) for d in dims]
    nan_dims[1][9] = float("nan")
    null_dims = [list(d) for d in dims]
    null_dims[1][9] = None
    schema = "doc_id string, dims array<array<double>>"
    for name, op in _dims_operators().items():
        got = op(spark.createDataFrame([("a", null_dims)], schema))
        exp = op(spark.createDataFrame([("a", nan_dims)], schema))
        assert _rows(got) == _rows(exp) != [], name


def test_sequence_operators_cross_python_as_arrow_only(spark):
    """Every sequence operator runs in ``MapInArrow`` (ostinato in
    ``FlatMapGroupsInArrow``): no plan has a pandas node."""
    df = _frame(spark, list(_docs().items()))
    dims = spark.createDataFrame(
        [("a", [[1.0] * 20, [2.0] * 20])],
        "doc_id string, dims array<array<double>>")
    plans = {name: op(df) for name, op in _operators(spark).items()}
    plans.update({name: op(dims) for name, op in _dims_operators().items()})
    assert len(plans) == 13
    for name, out in plans.items():
        plan = out._jdf.queryExecution().executedPlan().toString()
        node = "FlatMapGroupsInArrow" if name == "ostinato" else "MapInArrow"
        assert node in plan, (name, plan)
        assert "Pandas" not in plan, (name, plan)

