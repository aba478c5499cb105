"""Extract the reference's declarative URL parser-rule tables as JSON data.

The reference (webis-de/archive-query-log, MIT license) declares its
url→query / url→page / url→offset parser cascades as ordered tuples of
pydantic rule literals:

- ``URL_QUERY_PARSERS``  — parsers/url_query.py:216-5916  (972 rules)
- ``URL_PAGE_PARSERS``   — parsers/url_page.py:60-2711    (425 rules)
- ``URL_OFFSET_PARSERS`` — parsers/url_offset.py:60-571    (66 rules)

Each rule is a pure literal: a parser class (query-param / fragment-param /
path-segment), an optional provider UUID, an optional anchored url_pattern,
the parameter name or segment index, and optional remove/space cleanup
patterns. This script AST-parses those literals (the reference package
itself is not importable here — it needs elasticsearch_dsl) and re-emits
them as engine-neutral JSON rows for
``archive_query_log_spark/data/url_{query,page,offset}_rules.json``, which
``operators.rule_tables`` loads into the rule table consumed by
``operators.cascade.apply_cascade_array``.

Rule DATA is imported verbatim (it is the public, MIT-licensed capability
surface — 1,463 provider-specific extraction rules); all execution machinery
is ours. Run from the repo root:

    python tools/extract_reference_rules.py [reference_root]
"""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

RULE_TYPE_BY_CLASS_PREFIX = {
    "QueryParameter": "query_param",
    "FragmentParameter": "fragment_param",
    "PathSegment": "path_segment",
}

TABLES = {
    "url_query": ("url_query.py", "URL_QUERY_PARSERS"),
    "url_page": ("url_page.py", "URL_PAGE_PARSERS"),
    "url_offset": ("url_offset.py", "URL_OFFSET_PARSERS"),
}


def _literal(node: ast.expr) -> str | int | None:
    """Unwrap UUID("..."), re_compile(r"..."), plain constants."""
    if isinstance(node, ast.Constant):
        return node.value
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
        if node.func.id in ("UUID", "re_compile") and node.args:
            arg = node.args[0]
            if isinstance(arg, ast.Constant):
                return arg.value
    raise ValueError(f"unexpected rule field node: {ast.dump(node)[:120]}")


def extract_rules(parser_file: Path, tuple_name: str) -> list[dict]:
    tree = ast.parse(parser_file.read_text())
    for stmt in tree.body:
        if (
            isinstance(stmt, (ast.Assign, ast.AnnAssign))
            and isinstance(t := (stmt.targets[0] if isinstance(stmt, ast.Assign) else stmt.target), ast.Name)
            and t.id == tuple_name
        ):
            value = stmt.value
            break
    else:
        raise SystemExit(f"{tuple_name} not found in {parser_file}")
    assert isinstance(value, (ast.Tuple, ast.List)), type(value)

    rules: list[dict] = []
    for order, elt in enumerate(value.elts):
        assert isinstance(elt, ast.Call) and isinstance(elt.func, ast.Name), (
            ast.dump(elt)[:120]
        )
        cls = elt.func.id
        rule_type = next(
            v for k, v in RULE_TYPE_BY_CLASS_PREFIX.items() if cls.startswith(k)
        )
        fields = {kw.arg: _literal(kw.value) for kw in elt.keywords}
        argument = fields.pop("parameter", fields.pop("segment", None))
        assert argument is not None, f"rule {order}: no parameter/segment"
        rules.append(
            {
                "rule_order": order,
                "rule_type": rule_type,
                "argument": str(argument),
                "provider_id": fields.pop("provider_id", None),
                "url_pattern": fields.pop("url_pattern", None),
                "remove_pattern": fields.pop("remove_pattern", None),
                "space_pattern": fields.pop("space_pattern", None),
            }
        )
        assert not fields, f"rule {order}: unhandled fields {sorted(fields)}"
    return rules


def main() -> None:
    ref_root = Path(
        sys.argv[1] if len(sys.argv) > 1 else "/root/reference"
    )
    parsers_dir = ref_root / "archive_query_log" / "parsers"
    out_dir = Path(__file__).resolve().parent.parent / (
        "archive_query_log_spark/data"
    )
    out_dir.mkdir(exist_ok=True)
    for table, (fname, tuple_name) in TABLES.items():
        rules = extract_rules(parsers_dir / fname, tuple_name)
        anchored = sum(
            1 for r in rules if r["url_pattern"] and not r["url_pattern"].startswith("^")
        )
        doc = {
            "source": (
                "webis-de/archive-query-log (MIT), "
                f"archive_query_log/parsers/{fname}::{tuple_name} — "
                "declarative rule DATA extracted verbatim via AST; see "
                "tools/extract_reference_rules.py"
            ),
            "match_semantics": (
                "url_pattern uses re.match (anchored at position 0); "
                "engines with find-anywhere regex must prepend '^' to "
                "unanchored patterns"
            ),
            "n_rules": len(rules),
            "n_unanchored_url_patterns": anchored,
            "rules": rules,
        }
        out = out_dir / f"{table}_rules.json"
        out.write_text(json.dumps(doc, indent=0, ensure_ascii=False) + "\n")
        by_type: dict[str, int] = {}
        for r in rules:
            by_type[r["rule_type"]] = by_type.get(r["rule_type"], 0) + 1
        print(f"{table}: {len(rules)} rules {by_type} -> {out}")


if __name__ == "__main__":
    main()
