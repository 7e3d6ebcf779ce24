"""Static guard: each piece of the model plane's answer algebra has one
owner (README "Model-plane answer algebra").

- AggregationOperationType.PLUS is read only in the aggregate fold
  (spn/model.py::_fold_aggregates);
- inclusion-exclusion terms are expanded only by the signed-term sum
  (SPNEnsemble._signed_sum) and by _ie_terms' own recursion;
- a dictionary's value_to_code map is inverted only by the decoder
  (SPNModel._decoder);
- spn/model.py walks the tree (point, variance and grid passes, axis
  domains) only from the factor-cache owner (SPNModel._eval), so every
  walk is served from, and bounded by, the one cache;
- spn/model.py turns a query into join-scope corrections only in its
  scope owner (SPNModel._scope), so condition and correction ranges
  merge by one rule;
- spn/ensemble.py reads a model's mass grids only from the mass owner
  (SPNEnsemble._cell_masses); quantile alone reads per-value masses.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = sorted((REPO / "deepdb_public_spark").rglob("*.py"))
MODEL = REPO / "deepdb_public_spark" / "spn" / "model.py"
ENSEMBLE = REPO / "deepdb_public_spark" / "spn" / "ensemble.py"


def _owners(files: list[Path], match) -> set[tuple[str, str]]:
    """(file, function or method) holding a node ``match`` accepts; a
    nested helper counts as the function it is defined in."""
    out = set()
    for path in files:
        scopes: list[tuple[str, ast.AST]] = []
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.ClassDef):
                scopes.extend(
                    (n.name if isinstance(n, ast.FunctionDef) else "<class>", n)
                    for n in node.body
                )
            else:
                name = node.name if isinstance(node, ast.FunctionDef) else "<module>"
                scopes.append((name, node))
        for name, scope in scopes:
            if any(match(n) for n in ast.walk(scope)):
                out.add((str(path.relative_to(REPO)), name))
    return out


def _is_plus(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "PLUS"
        and isinstance(node.value, ast.Name)
        and node.value.id == "AggregationOperationType"
    )


def _calls(*names: str):
    """Matcher for a call of any of ``names``, bare or as a method."""

    def match(node: ast.AST) -> bool:
        if not isinstance(node, ast.Call):
            return False
        f = node.func
        return (f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)) in names

    return match


def _inverts_dictionary(node: ast.AST) -> bool:
    """{code: value for value, code in X.value_to_code.items()}."""
    if not isinstance(node, ast.DictComp) or len(node.generators) != 1:
        return False
    gen = node.generators[0]
    it, target = gen.iter, gen.target
    return (
        isinstance(it, ast.Call)
        and isinstance(it.func, ast.Attribute)
        and it.func.attr == "items"
        and isinstance(it.func.value, ast.Attribute)
        and it.func.value.attr == "value_to_code"
        and isinstance(target, ast.Tuple)
        and len(target.elts) == 2
        and isinstance(node.key, ast.Name)
        and isinstance(target.elts[1], ast.Name)
        and node.key.id == target.elts[1].id
    )


def test_aggregate_fold_is_the_only_reader_of_plus():
    spn = [p for p in PACKAGE if p.parent.name == "spn"]
    assert _owners(spn, _is_plus) == {
        ("deepdb_public_spark/spn/model.py", "_fold_aggregates")
    }


def test_signed_sum_is_the_only_expander_of_ie_terms():
    assert _owners(PACKAGE + [REPO / "__spark_entry__.py"], _calls("_ie_terms")) == {
        ("deepdb_public_spark/spn/ensemble.py", "_signed_sum"),
        ("deepdb_public_spark/spn/ensemble.py", "_ie_terms"),
    }


def test_decoder_is_the_only_inverse_dictionary():
    assert _owners(PACKAGE + [REPO / "__spark_entry__.py"], _inverts_dictionary) == {
        ("deepdb_public_spark/spn/model.py", "_decoder")
    }


def test_factor_cache_owner_is_the_only_tree_walker_in_the_model():
    walks = _calls(
        "evaluate", "evaluate_groupby", "evaluate_with_variance", "distinct_values"
    )
    assert _owners([MODEL], walks) == {("deepdb_public_spark/spn/model.py", "_eval")}


def test_scope_owner_is_the_only_reader_of_correction_factors():
    assert _owners([MODEL], _calls("correction_factors")) == {
        ("deepdb_public_spark/spn/model.py", "_scope")
    }


def test_cell_mass_owner_is_the_only_reader_of_mass_grids():
    assert _owners([ENSEMBLE], _calls("_grouped_value_masses")) == {
        ("deepdb_public_spark/spn/ensemble.py", "_cell_masses")
    }
    assert _owners([ENSEMBLE], _calls("_value_masses")) == {
        ("deepdb_public_spark/spn/ensemble.py", "quantile")
    }
