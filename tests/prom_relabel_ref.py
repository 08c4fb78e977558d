"""A small pure-Python Prometheus relabel interpreter — the independent
reference the Spark ``relabel`` is compared against in the tests. It
shares no code with the package: it reads the public relabel_config
contract (prometheus/model/relabel) directly.

A label set is a ``dict`` in insertion order. ``Set`` removes the old
entry and appends the new one (an empty value deletes), which fixes the
label order the Spark engine must reproduce; labelmap visits the source
labels in sorted name order, as Prometheus's sorted ``labels.Labels``
does.

Regexes are matched with Python's ``re`` (ASCII classes, as in RE2),
fully anchored with ``fullmatch``. Python's ``.`` excludes only ``\\n``,
while Java's also excludes ``\\r``, ``\\u0085``, ``\\u2028`` and
``\\u2029``; ``.`` is NOT translated. Instead those characters are kept
out of the values this interpreter accepts: ``relabel_ref`` raises on
any label name or value that contains one, so a fixture cannot silently
step onto the dialect gap.

``ordered_labels`` and ``reference_labels`` line a Spark frame's rows up
with the interpreter's for an order-sensitive comparison.
"""

from __future__ import annotations

import hashlib
import re

_TERMINATORS = "\n\r\u0085\u2028\u2029"
_DEFAULTS = {"action": "replace", "separator": ";", "regex": "(.*)", "replacement": "$1"}
_REF = re.compile(r"\$\{(\d+)\}|\$(\d+)")
_NAME = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*")


def _expand(m: re.Match, template: str) -> str:
    """``$n``/``${n}`` → group n; a group the regex lacks (or that did
    not take part in the match) expands to "", as RE2's ExpandString."""

    def sub(ref: re.Match) -> str:
        n = int(ref.group(1) or ref.group(2))
        return (m.group(n) or "") if n <= m.re.groups else ""

    return _REF.sub(sub, template)


def _set(labels: dict, name: str, value: str) -> None:
    labels.pop(name, None)
    if value:
        labels[name] = value


def _apply(rule: dict, labels: dict) -> dict | None:
    """One rule; returns the new label dict, or None if the series drops."""
    r = {**_DEFAULTS, **rule}
    action, rx = r["action"], re.compile(r["regex"], re.ASCII)
    val = r["separator"].join(labels.get(s, "") for s in r.get("source_labels", []))
    out = dict(labels)
    if action in ("keep", "drop"):
        return out if (rx.fullmatch(val) is not None) == (action == "keep") else None
    if action in ("keepequal", "dropequal"):
        equal = val == labels.get(r["target_label"], "")
        return out if equal == (action == "keepequal") else None
    if action == "replace":
        m = rx.fullmatch(val)
        if m is not None:
            target = _expand(m, r["target_label"])
            if _NAME.fullmatch(target):
                _set(out, target, _expand(m, r["replacement"]))
    elif action in ("lowercase", "uppercase"):
        _set(out, r["target_label"], val.lower() if action == "lowercase" else val.upper())
    elif action == "hashmod":
        digest = hashlib.md5(val.encode()).digest()
        _set(out, r["target_label"], str(int.from_bytes(digest[8:16], "big") % int(r["modulus"])))
    elif action == "labelmap":
        for name in sorted(labels):
            m = rx.fullmatch(name)
            if m is not None:
                _set(out, _expand(m, r["replacement"]), labels[name])
    elif action in ("labeldrop", "labelkeep"):
        keep = action == "labelkeep"
        out = {k: v for k, v in labels.items() if (rx.fullmatch(k) is not None) == keep}
    else:
        raise ValueError(f"unknown relabel action: {action}")
    return out


def relabel_ref(labels: dict, rules: list[dict]) -> dict | None:
    """Run a relabel_configs chain over one label set; None = dropped."""
    for k, v in labels.items():
        if any(c in _TERMINATORS for c in k + v):
            raise ValueError(f"line terminator in label {k!r}={v!r}: outside the reference")
    for rule in rules:
        labels = _apply(rule, labels)
        if labels is None:
            return None
    return labels


def ordered_labels(df) -> dict:
    """id → label (name, value) pairs of an ``id``/``labels`` frame in
    map order. Read through map_entries: collecting a map column goes
    through a JVM HashMap, which loses the order."""
    from pyspark.sql import functions as F

    rows = df.select("id", F.map_entries("labels").alias("e")).collect()
    return {r["id"]: [(e["key"], e["value"]) for e in r["e"]] for r in rows}


def reference_labels(inputs: dict, rules: list[dict]) -> dict:
    """What ``relabel_ref`` makes of each row of ``inputs`` (an
    ``ordered_labels`` result), in the same shape; dropped rows are
    absent."""
    out = {}
    for i, entries in inputs.items():
        labels = relabel_ref(dict(entries), rules)
        if labels is not None:
            out[i] = list(labels.items())
    return out
