"""Tag-classifier DSL (§2.4b): key→(value→category) with ``Any``/``Not``
filters — /root/reference/osm/category.ml:83-122 semantics, compiled to
two JVM map lookups (scales to thousands of rules, no CASE chain):

- ``("any", values, cat)``: each value maps to cat;
- ``("not", values, cat)``: each value is BLOCKED (classifies to the
  ``none`` category -1 even though the key default is set) and the
  key's default becomes cat;
- later rules replace earlier ones (IntTbl.replace semantics);
- unknown key or unmatched value with no key default → -1.

The reference works over dictionary ids; we classify the strings
directly (dictionary-encode around it where dense ids are wanted).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# rule = ("any" | "not", [values], category)
Classifier = list[tuple[str, list[tuple[str, list[str], int]]]]

SEP = "\x00"


def compile_classifier(classifier: Classifier):
    """Resolve the rule list to (value_map, key_defaults) — pure Python,
    mirroring category.ml's hash-table build order."""
    value_map: dict[tuple[str, str], int] = {}
    key_def: dict[str, int | None] = {}
    for key, rules in classifier:
        key_def.setdefault(key, None)
        for kind, values, cat in rules:
            if kind == "any":
                for v in values:
                    value_map[(key, v)] = cat
            elif kind == "not":
                for v in values:
                    value_map[(key, v)] = -1   # blocked outright
                key_def[key] = cat
            else:
                raise ValueError(f"unknown filter kind {kind!r}")
    return value_map, key_def


def classify_tags(key_col, val_col, classifier: Classifier) -> Column:
    """Category column for (key, value) tag rows."""
    value_map, key_def = compile_classifier(classifier)
    vm_items = [x for (k, v), c in sorted(value_map.items())
                for x in (F.lit(k + SEP + v), F.lit(int(c)))]
    kd_items = [x for k, c in sorted(key_def.items()) if c is not None
                for x in (F.lit(k), F.lit(int(c)))]
    key_col = F.col(key_col) if isinstance(key_col, str) else key_col
    val_col = F.col(val_col) if isinstance(val_col, str) else val_col
    exact = F.element_at(F.create_map(*vm_items),
                         F.concat(key_col, F.lit(SEP), val_col)) \
        if vm_items else F.lit(None).cast("int")
    per_key = F.element_at(F.create_map(*kd_items), key_col) \
        if kd_items else F.lit(None).cast("int")
    return F.coalesce(exact, per_key, F.lit(-1))


def classify_sql_case(key_col: str, val_col: str,
                      classifier: Classifier) -> str:
    """ANSI-SQL CASE twin of ``classify_tags`` (for oracles): built from
    the same resolved maps but expressed as independent CASE logic."""
    value_map, key_def = compile_classifier(classifier)
    per_key: dict[str, list[tuple[str, int]]] = {}
    for (k, v), c in value_map.items():
        per_key.setdefault(k, []).append((v, c))

    def q(s: str) -> str:          # SQL string literal ('' escaping)
        return "'" + s.replace("'", "''") + "'"

    branches = []
    # union with key_def: a key carrying ONLY a default (e.g. a 'not'
    # rule with an empty value list) still needs a branch
    for k in sorted(set(per_key) | set(key_def)):
        whens = " ".join(
            f"WHEN {q(v)} THEN {c}" for v, c in sorted(per_key.get(k, [])))
        d = key_def.get(k)
        default = -1 if d is None else d
        inner = (f"(CASE {val_col} {whens} ELSE {default} END)"
                 if whens else str(default))
        branches.append(f"WHEN {key_col} = {q(k)} THEN {inner}")
    return f"(CASE {' '.join(branches)} ELSE -1 END)"
