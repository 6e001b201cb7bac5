"""A wrong result lowers ok_rate; a failed op is counted, never dropped."""

import pyarrow as pa

import oracle
import stats

SQL = "SELECT 'a' AS name, 1.5 AS total UNION ALL SELECT 'b', 2.25"


def _op(result=None, error=None):
    return {"result": result, "error": error,
            "rows": 0 if result is None else result.num_rows}


def _verdicts(ops):
    con = oracle.connect({})
    expected = oracle.expect(con, "expected_0", SQL)
    return [oracle.verdict(con, op, expected) for op in ops]


def test_matching_result_in_any_order_and_column_case_passes():
    got = pa.table({"TOTAL": [2.25, 1.5], "name": ["b", "a"]})
    assert _verdicts([_op(got)]) == [True]


def test_wrong_result_lowers_ok_rate():
    right = pa.table({"name": ["a", "b"], "total": [1.5, 2.25]})
    wrong = pa.table({"name": ["a", "b"], "total": [1.5, 2.2500000001]})
    ok = _verdicts([_op(right), _op(wrong), _op(error="Py4JError: boom")])
    assert ok == [True, False, False]
    assert stats.ok_rate(ok) == 1 / 3


def test_duplicate_rows_are_not_collapsed():
    doubled = pa.table({"name": ["a", "a", "b"], "total": [1.5, 1.5, 2.25]})
    assert _verdicts([_op(doubled)]) == [False]


def test_oracle_less_op_passes_only_with_rows():
    con = oracle.connect({})
    rows = pa.table({"x": [1]})
    empty = pa.table({"x": pa.array([], pa.int64())})
    assert oracle.verdict(con, _op(rows), None)
    assert not oracle.verdict(con, _op(empty), None)
