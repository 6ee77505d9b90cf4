"""Output checks: a wrong expected output is a failed op."""

from __future__ import annotations

from lakebench import run
from lakebench.workloads import Op, canon, same_table


def _op(want):
    return Op("op", run=lambda: None, expect=lambda: want)


def test_matching_output_passes():
    assert run.check_outputs([(_op("erDiagram"), "erDiagram", False)]) == 0


def test_wrong_expected_output_is_a_failed_op():
    outputs = [(_op("erDiagram\n    a {"), "erDiagram", False),
               (_op("x"), "x", False)]
    assert run.check_outputs(outputs) == 1


def test_raised_op_is_a_failed_op():
    assert run.check_outputs([(_op("x"), None, True)]) == 1


def test_table_check_compares_values_not_order():
    got = ([(1, 0.1234561), (2, None)], ["k", "v"])
    op = Op("t", run=lambda: None,
            expect=lambda: canon([(2, None), (1, 0.123456)], ["k", "v"]),
            matches=same_table)
    assert run.check_outputs([(op, got, False)]) == 0
    wrong = Op("t", run=lambda: None,
               expect=lambda: canon([(2, None), (1, 0.123457)], ["k", "v"]),
               matches=same_table)
    assert run.check_outputs([(wrong, got, False)]) == 1


def test_reference_computed_once():
    calls = []
    op = Op("once", run=lambda: None,
            expect=lambda: calls.append(1) or "x")
    run.check_outputs([(op, "x", False)] * 3)
    assert calls == [1]
