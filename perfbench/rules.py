"""Rule trees the benchmark runs, and the transform-stripping helper
the per-layer probes use."""

from __future__ import annotations

import copy

# Rich tree for the small product/listing pages: a conditional
# ``cases`` branch (one case, so native lowering stays on), a
# collection, two grids, ``parentScope``, attr and array leaves, and
# transform chains mixing Python-only steps (replace, date, match, and
# a pick that precedes a match) with natively lowered suffixes (trim,
# split, pick, join).
RICH_RULES = {"actions": [{"type": "cases", "cases": [[
    {"type": "exist", "scope": "div.product"},
    {"type": "provideRules", "rules": {
        "scope": "div.product",
        "collection": [
            {"name": "title", "scope": "h1.title",
             "transform": [{"type": "trim"}]},
            {"name": "sku", "parentScope": "main.page",
             "scope": "div.product", "attr": "data-sku",
             "transform": [{"type": "split", "separator": "-"},
                           {"type": "pick", "index": 1}]},
            {"name": "price", "scope": "span.price",
             "transform": [{"type": "replace", "re": ["[^0-9,]", "g"], "to": ""},
                           {"type": "replace", "re": [",", "g"], "to": "."},
                           {"type": "trim"}]},
            {"name": "released", "scope": "span.date",
             "transform": [{"type": "date", "from": "D MMMM YYYY",
                            "to": "YYYY-MM-DD"}]},
            {"name": "photo", "scope": "img.photo", "attr": "src",
             "transform": [{"type": "split", "separator": "/"},
                           {"type": "pick", "index": 3}]},
            {"name": "tags", "scope": "li.tag", "type": "array",
             "transform": [{"type": "join", "glue": "|"}]},
            {"name": "first_rating", "scope": "span.rating", "type": "array",
             "transform": [{"type": "pick", "index": 0},
                           {"type": "match", "re": ["(\\d)/5"], "index": 1}]},
            {"name": "crumbs", "parentScope": "body", "scope": "header.site nav.crumbs > a.nav",
             "type": "array", "transform": [{"type": "trim"}]},
            {"name": "rows", "parentScope": "body", "scope": "tr.row",
             "collection": [[
                 {"name": "sku", "scope": "td.sku",
                  "transform": [{"type": "trim"}]},
                 {"name": "price", "scope": "td.price",
                  "transform": [{"type": "replace", "re": ["[^0-9.]", "g"],
                                 "to": ""}]},
                 {"name": "stock", "scope": "td.stock",
                  "transform": [{"type": "match", "re": ["(\\d+) in stock"],
                                 "index": 1}]},
                 {"name": "added", "scope": "td.added",
                  "transform": [{"type": "date", "from": "YYYY-MM-DD",
                                 "to": "D MMMM YYYY"}]},
                 {"name": "seller", "scope": "td.seller",
                  "attr": "data-seller",
                  "transform": [{"type": "replace", "re": ["_(\\d+)$"],
                                 "to": " #$1"}, {"type": "trim"}]},
                 {"name": "href", "scope": "td > a.link", "attr": "href",
                  "transform": [{"type": "split", "separator": "?"},
                                {"type": "pick", "index": 0}]},
             ]]},
            {"name": "reviews", "scope": "div.reviews > div.review",
             "collection": [[
                {"name": "author", "scope": "span.author"},
                {"name": "when", "scope": "span.when",
                 "transform": [{"type": "date", "from": "YYYY-MM-DD",
                                "to": "D MMM YYYY"}]},
                {"name": "body", "scope": "p.body",
                 "transform": [{"type": "replace", "re": ["\\s+", "g"],
                                "to": " "}, {"type": "trim"}]},
            ]]},
        ],
    }},
]]}]}

# Narrow tree for the heavy pages: title, one attr, one href array.
NARROW_RULES = {"collection": [
    {"name": "title", "scope": "title"},
    {"name": "canonical", "scope": "link[rel=canonical]", "attr": "href"},
    {"name": "links", "scope": "a.out", "attr": "href", "type": "array"},
]}


def strip_transforms(spec: object) -> object:
    """The same rule JSON with every ``transform`` key removed."""
    if isinstance(spec, dict):
        return {k: strip_transforms(v) for k, v in spec.items()
                if k != "transform"}
    if isinstance(spec, list):
        return [strip_transforms(v) for v in spec]
    return copy.deepcopy(spec)


def step_counts(compiled) -> tuple[int, int]:
    """(lowered steps, all steps) over every leaf of a compiled tree."""
    lowered = total = 0
    stack = [br.rules for br in compiled.branches]
    while stack:
        rule = stack.pop()
        total += len(rule.transforms)
        lowered += len(rule.lowered_specs)
        stack.extend(rule.children)
    return lowered, total
