"""The catalog gate: exact by hash, and a float cell may differ only by a
rounding tie's summation-order noise."""

from __future__ import annotations

import pytest

from perfbench import fixtures
from perfbench.oracle import CatalogOracle

SQL = "SELECT 302496823.58::DOUBLE AS revenue, 1480 AS order_ct, 'AUTOMOBILE' AS seg"


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    sf_dir = str(tmp_path_factory.mktemp("sf"))
    fixtures.write(1, 0.0005, sf_dir)
    o = CatalogOracle(sf_dir)
    yield o
    o.close()


def test_equal_result_passes_by_hash(oracle):
    assert oracle.check("a", SQL, ["seg", "order_ct", "revenue"],
                        [("AUTOMOBILE", 1480, 302496823.58)]) is None
    assert "a" not in oracle.within_tolerance


def test_a_cent_on_a_rounding_tie_passes_within_tolerance(oracle):
    assert oracle.check("b", SQL, ["revenue", "order_ct", "seg"],
                        [(302496823.59, 1480, "AUTOMOBILE")]) is None
    assert "b" in oracle.within_tolerance


@pytest.mark.parametrize("row", [
    (302496900.0, 1480, "AUTOMOBILE"),   # a real difference in the sum
    (302496823.58, 1481, "AUTOMOBILE"),  # counts compare exactly
    (302496823.59, 1480, "BUILDING"),    # so do keys
])
def test_other_differences_fail(oracle, row):
    assert oracle.check("c", SQL, ["revenue", "order_ct", "seg"], [row]) is not None


def test_row_count_and_columns_are_checked(oracle):
    assert "rows" in oracle.check("d", SQL, ["revenue", "order_ct", "seg"], [])
    assert "columns" in oracle.check("e", SQL, ["revenue", "n", "seg"], [(1.0, 1, "x")])
