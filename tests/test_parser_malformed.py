"""Malformed queries fail loudly: each input below used to parse into a
silently wrong Query (a literal like '5 5' that matches nothing, a
self-join collapsed into one table, ...) and must now raise
ValueError naming the offending fragment."""

from __future__ import annotations

import re

import pytest

from deepdb_public_spark.plans.parser import parse_query
from deepdb_public_spark.plans.schema import tpch_like_schema

S = tpch_like_schema()
W = "SELECT COUNT(*) FROM lineitem WHERE "

MALFORMED = {
    "two_token_literal": (W + "lineitem.l_tax = 5 5", "5 5"),
    "unmatched_close_paren": (W + "lineitem.l_tax = 5)", "5)"),
    "unmatched_open_paren": (W + "lineitem.l_tax = (5", "(5"),
    "unterminated_string": (W + "lineitem.l_returnflag < 'abc", "'abc"),
    "empty_in_item": (W + "lineitem.l_quantity IN (1,,2)", "IN (1,,2)"),
    "trailing_select_comma": ("SELECT COUNT(*), FROM lineitem", "COUNT(*),"),
    "trailing_group_by_comma": (
        "SELECT lineitem.l_returnflag, COUNT(*) FROM lineitem GROUP BY lineitem.l_returnflag,",
        "lineitem.l_returnflag,",
    ),
    "invalid_date": (W + "lineitem.l_shipdate < DATE '1995-13-45'", "1995-13-45"),
    "self_join": ("SELECT COUNT(*) FROM lineitem l, lineitem", "'lineitem'"),
    "duplicate_alias": (
        "SELECT SUM(lineitem.l_quantity) AS a, AVG(lineitem.l_tax) AS a FROM lineitem",
        "'a'",
    ),
}


@pytest.mark.parametrize("sql,fragment", MALFORMED.values(), ids=MALFORMED.keys())
def test_malformed_query_names_fragment(sql, fragment):
    with pytest.raises(ValueError, match=re.escape(fragment)):
        parse_query(sql, S)


def test_single_bare_word_and_signed_literals_still_parse():
    (c,) = parse_query(W + "lineitem.l_returnflag = BUILDING", S).conditions
    assert c.value == "BUILDING"
    (c,) = parse_query(W + "lineitem.l_quantity > -5", S).conditions
    assert c.value == -5
    (c,) = parse_query(W + "lineitem.l_shipdate >= DATE '1996-02-29'", S).conditions
    assert c.value == "1996-02-29"
