"""Prometheus relabel_config engine — the scrape-side label rewriting the
collector's ``receiver/prometheusreceiver`` applies through the embedded
Prometheus config (README.md:91-105 "Service discovery and relabeling
behave like Prometheus", alert_config.relabel_configs README.md:39).

Semantics follow the public Prometheus relabeling contract
(prometheus/model/relabel): each rule reads ``source_labels`` joined by
``separator`` (missing label → ""), full-matches ``regex`` (patterns are
anchored ``^(?:re)$``), and then by ``action``:

  - ``replace``      match → set ``target_label`` to ``replacement`` with
                     ``$1``/``${1}`` group refs expanded; empty expansion
                     deletes the label; no match → no-op
  - ``keep``/``drop``          keep/drop the whole series on match
  - ``keepequal``/``dropequal`` compare the joined source value to the
                     current value of ``target_label``
  - ``lowercase``/``uppercase`` set ``target_label`` to the cased value
  - ``hashmod``      set ``target_label`` to
                     ``uint64_be(md5(val)[8:16]) % modulus``
  - ``labelmap``     every label NAME matching regex gains a copy under
                     the expanded replacement name (last write wins)
  - ``labeldrop``/``labelkeep`` filter label names by regex

Everything compiles to native array/regex Column expressions at
plan-build time — zero Python in the hot path, no shuffle. Labels ride
in a ``map<string,string>`` column; ``relabel`` converts it once to an
``array<struct<k,v>>`` of entries, runs every rule as array
filter/concat algebra, and folds the array back to a map at the end.

Two Catalyst hazards shape the implementation (both measured, both
fatal at depth ~7 without the countermeasures):

  1. **Multiplicative inlining.** A rule's expression naturally
     references the incoming labels several times (joined source value,
     cleared entries, fallback branch). When Catalyst collapses the
     per-rule projections, each reference re-inlines the whole upstream
     chain — ~5 refs/rule × 9 rules ≈ 2M-node plans. Fix: every rule
     binds the incoming entries ONCE as a higher-order-function lambda
     variable (``element_at(transform(array(labels), l -> rule(l)), 1)``)
     — lambda-variable references are leaf nodes Catalyst never expands,
     so the chain grows additively, not multiplicatively.
  2. **Filter pushdown blowup.** A keep/drop Filter above the projection
     stack gets pushed through it, substituting the full labels
     expression into the predicate at every level. A nondeterministic
     pass-through column (``rand()`` — streaming-legal, unlike
     monotonically_increasing_id) right under each Filter pins it in
     place; the column is dropped immediately and results are
     unchanged.

Replacement strings support RE2-style ``$1``/``${1}`` group references
(translated to Java's ``$1``); a literal ``$`` in a replacement is not
supported (document-level limitation, as in Java's Matcher).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._catalyst import bind_once as _once  # hazard 1: see module docstring

_DEFAULTS = {
    "action": "replace",
    "separator": ";",
    "regex": "(.*)",
    "replacement": "$1",
}


def _anchor(regex: str) -> str:
    """Prometheus anchors rules as ^(?:re)$ under RE2, where $ is
    end-of-TEXT. Java's $ also matches before a final newline, so the
    faithful Java translation is \\A(?:re)\\z (probe-confirmed: a label
    value "x1\\n" must NOT full-match "x1")."""
    return "\\A(?:" + regex + ")\\z"


def _java_repl(repl: str, n_groups: int | None = None) -> str:
    """RE2 ``${1}`` → Java ``$1`` (plain ``$1`` passes through). When the
    rule's group count is known, references to groups the regex does not
    define are stripped — RE2's ExpandString yields "" for out-of-range
    groups, while Java's replaceAll throws (probe-confirmed: an
    unvalidated $2 against a 1-group regex aborts the whole job)."""
    out = re.sub(r"\$\{(\d+)\}", r"$\1", repl)
    if n_groups is not None:
        out = re.sub(
            r"\$(\d+)", lambda m: "" if int(m.group(1)) > n_groups else m.group(0), out
        )
    return out


def _expand(val: Column, anchored: str, template: str, n_groups: int | None = None) -> Column:
    """Full-match group expansion: the template with $n refs substituted.
    Callers gate on the match, so replacing the (single, full-string)
    match IS the expansion."""
    return F.regexp_replace(val, anchored, _java_repl(template, n_groups))


def _group_count(regex: str) -> int | None:
    """Capture-group count of the rule regex (None if Python's re cannot
    parse the pattern — then out-of-range refs are left to fail loudly)."""
    try:
        return re.compile(regex).groups
    except re.error:
        return None


# --- literal fast-path gates (round 4) ---------------------------------------
# Prometheus's own relabeler front-loads a literal-prefix check before the
# RE2 machine (model/relabel via the FastRegexMatcher family); the same
# optimization here turns "anchored regex per row per rule" into "cheap
# string compare per row, regex only on candidates". Each derived gate is
# IMPLIED by the full anchored match, so results are unchanged.

_META = set(".^$*+?()[]{}|\\")


def _toplevel_alt(regex: str) -> bool:
    """True if the pattern has a top-level alternation (which would make
    any scanned prefix unsound: 'abc|def' does not require 'abc')."""
    depth, esc, in_class = 0, False, False
    for ch in regex:
        if esc:
            esc = False
            continue
        if ch == "\\":
            esc = True
            continue
        if in_class:
            in_class = ch != "]"
            continue
        if ch == "[":
            in_class = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "|" and depth == 0:
            return True
    return False


def _literal_prefix(regex: str) -> str:
    """Longest literal string every match must START with: leading
    literal chars up to the first metacharacter; a trailing char whose
    quantifier makes it optional (* ? {) is dropped. Conservative —
    returns "" whenever unsure, which only weakens the gate."""
    if _toplevel_alt(regex):
        return ""
    out: list[str] = []
    for ch in regex:
        if ch in _META:
            if ch in "*?{" and out:
                out.pop()  # previous char is optional under this quantifier
            break
        out.append(ch)
    return "".join(out)


# Characters '.' does NOT match in Java/RE2 default mode — a value
# containing any of these cannot full-match \A(?:.*)\z (see _anchor's
# probe: "x1\n" must NOT match "x1"). The default-regex fast paths below
# must preserve that, so they gate on line-terminator absence instead of
# short-circuiting to TRUE.
_LINE_TERM = "[\n\r\u0085\u2028\u2029]"


def _match_gate(val: Column, anchored: str, regex: str) -> Column:
    """Full-match predicate with the literal fast path in front.
    Prometheus's default '(.*)' matches any line-terminator-free value
    (the joined source is never NULL — concat_ws) and '(.+)' adds
    non-emptiness; both skip the full regex machine, but NOT the
    line-terminator check — '.' excludes \\n under both RE2 and Java, so
    a newline-bearing value must fail exactly as the anchored regex
    would."""
    if regex in ("(.*)", ".*", "(.*)?"):
        return ~val.rlike(_LINE_TERM)
    if regex in ("(.+)", ".+"):
        return (val != "") & ~val.rlike(_LINE_TERM)
    prefix = _literal_prefix(regex)
    if prefix:
        return val.startswith(prefix) & val.rlike(anchored)
    return val.rlike(anchored)


def _is_valid_label_name(name: str) -> bool:
    return re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", name) is not None


# Prometheus legacy label-name validation (model/labels): a replace whose
# expanded target name is invalid is skipped, not applied
_LABEL_NAME_RE = "\\A[a-zA-Z_][a-zA-Z0-9_]*\\z"


def _set_label(l: Column, name: Column, value: Column) -> Column:
    """lbls.Set(name, value) on a label MAP (merge_scrape_labels' fold):
    delete any existing entry, then insert — unless the value is empty,
    which is Prometheus's delete."""
    cleared = F.map_filter(l, lambda k, _v: k != name)
    return F.when(value == "", cleared).otherwise(
        F.map_concat(cleared, F.map_from_arrays(F.array(name), F.array(value)))
    )


def _hashmod(val: Column, modulus: int) -> Column:
    """uint64 big-endian of md5 bytes [8:16), mod modulus — computed in
    DECIMAL(38,0) so the unsigned 64-bit value never wraps."""
    hi = F.conv(F.substring(F.md5(val), 17, 8), 16, 10).cast("decimal(38,0)")
    lo = F.conv(F.substring(F.md5(val), 25, 8), 16, 10).cast("decimal(38,0)")
    v = hi * F.lit(4294967296).cast("decimal(38,0)") + lo
    return F.pmod(v, F.lit(modulus).cast("decimal(38,0)")).cast("bigint").cast("string")


# --- the entries representation ----------------------------------------------
# One label is a struct<k,v>; the label set is an array of them in
# insertion order. Set() removes the old entry in place and appends at
# the end, so label order is deterministic.


def _entry(k: Column, v: Column) -> Column:
    return F.struct(k.alias("k"), v.alias("v"))


def _get(a: Column, name: Column) -> Column:
    return F.get(F.filter(a, lambda e: e["k"] == name), 0)["v"]


def _joined(a: Column, source_labels: list[str], sep: str) -> Column:
    """Prometheus joins source label values with separator; a label that
    is absent contributes the empty string."""
    if not source_labels:
        return F.lit("")
    return F.concat_ws(
        sep, *[F.coalesce(_get(a, F.lit(s)), F.lit("")) for s in source_labels]
    )


def _set(a: Column, name: Column, value: Column) -> Column:
    """lbls.Set(name, value) on entries — an empty value deletes."""
    cleared = F.filter(a, lambda e: e["k"] != name)
    return F.when(value == "", cleared).otherwise(
        F.concat(cleared, F.array(_entry(name, value)))
    )


def _filtered(frame: DataFrame, pred: Column) -> DataFrame:
    # nondeterministic pass-through pins the Filter above the projection
    # stack (hazard 2 in the module docstring)
    b = frame.withColumn("__rl_barrier", F.rand())
    return b.filter(pred).drop("__rl_barrier")


def relabel(df: DataFrame, rules: list[dict], labels_col: str = "labels") -> DataFrame:
    """Apply a relabel_configs chain to ``labels_col``.

    Each rule is a dict with Prometheus's keys (``action``,
    ``source_labels``, ``separator``, ``regex``, ``target_label``,
    ``replacement``, ``modulus``); omitted keys take Prometheus's
    defaults. keep/drop/keepequal/dropequal filter rows; every other
    action rewrites the labels in place. A label written by a rule moves
    to the end of the output map; untouched labels keep their order.
    """
    ACOL = "__rl_entries"
    df = df.withColumn(
        ACOL,
        F.transform(F.map_entries(F.col(labels_col)), lambda e: _entry(e["key"], e["value"])),
    )
    for raw in rules:
        rule = {**_DEFAULTS, **raw}
        action = rule["action"]
        anchored = _anchor(rule["regex"])
        srcs = rule.get("source_labels", [])
        sep = rule["separator"]
        arr = F.col(ACOL)

        if action in ("keep", "drop"):
            matched = _once(
                arr,
                lambda a: _match_gate(_joined(a, srcs, sep), anchored, rule["regex"]),
            )
            df = _filtered(df, matched if action == "keep" else ~matched)
        elif action in ("keepequal", "dropequal"):
            eq = _once(
                arr,
                lambda a: _joined(a, srcs, sep)
                == F.coalesce(_get(a, F.lit(rule["target_label"])), F.lit("")),
            )
            df = _filtered(df, eq if action == "keepequal" else ~eq)
        elif action == "replace":
            n_groups = _group_count(rule["regex"])
            tgt_tpl = rule["target_label"]
            rep_tpl = rule["replacement"]
            # templates without group refs are compile-time constants —
            # skip the per-row regexp_replace expansion (and for a literal
            # target name, evaluate Prometheus's target.IsValid() gate now)
            tgt_literal = "$" not in tgt_tpl
            rep_literal = "$" not in rep_tpl
            if tgt_literal and not _is_valid_label_name(tgt_tpl):
                continue  # invalid literal target -> rule is always a no-op

            def _replace(a: Column) -> Column:
                val = _joined(a, srcs, sep)
                name = (
                    F.lit(tgt_tpl)
                    if tgt_literal
                    else _expand(val, anchored, tgt_tpl, n_groups)
                )
                newval = (
                    F.lit(rep_tpl)
                    if rep_literal
                    else _expand(val, anchored, rep_tpl, n_groups)
                )
                cond = _match_gate(val, anchored, rule["regex"])
                if not tgt_literal:
                    # invalid expanded target name -> rule skipped, as in
                    # Prometheus relabel.go's target.IsValid() gate
                    cond = cond & name.rlike(_LABEL_NAME_RE)
                return F.when(cond, _set(a, name, newval)).otherwise(a)

            df = df.withColumn(ACOL, _once(arr, _replace))
        elif action in ("lowercase", "uppercase"):
            case_fn = F.lower if action == "lowercase" else F.upper

            def _cased(a: Column) -> Column:
                return _set(a, F.lit(rule["target_label"]), case_fn(_joined(a, srcs, sep)))

            df = df.withColumn(ACOL, _once(arr, _cased))
        elif action == "hashmod":
            modulus = int(rule["modulus"])

            def _hm(a: Column) -> Column:
                return _set(
                    a, F.lit(rule["target_label"]), _hashmod(_joined(a, srcs, sep), modulus)
                )

            df = df.withColumn(ACOL, _once(arr, _hm))
        elif action == "labelmap":
            repl = _java_repl(rule["replacement"])

            def _lmap(a: Column) -> Column:
                # iterate matched entries in SORTED source-name order —
                # Prometheus's labels.Labels is canonically sorted, so a
                # colliding expanded target resolves last-wins over the
                # sorted source names
                renamed = F.transform(
                    F.array_sort(
                        F.filter(a, lambda e: _match_gate(e["k"], anchored, rule["regex"]))
                    ),
                    lambda e: _entry(F.regexp_replace(e["k"], anchored, repl), e["v"]),
                )
                # fold Set() over the renamed entries: last write wins
                return F.aggregate(
                    renamed,
                    a,
                    lambda acc, e: F.concat(F.filter(acc, lambda x: x["k"] != e["k"]), F.array(e)),
                )

            df = df.withColumn(ACOL, _once(arr, _lmap))
        elif action in ("labeldrop", "labelkeep"):
            keep = action == "labelkeep"

            def _lfilter(a: Column) -> Column:
                return F.filter(
                    a,
                    lambda e: (
                        _match_gate(e["k"], anchored, rule["regex"])
                        if keep
                        else ~_match_gate(e["k"], anchored, rule["regex"])
                    ),
                )

            df = df.withColumn(ACOL, _once(arr, _lfilter))
        else:
            raise ValueError(f"unknown relabel action: {action}")
    return df.withColumn(labels_col, F.map_from_entries(F.col(ACOL))).drop(ACOL)


def labels_csv(labels: Column) -> Column:
    """Canonical sorted ``k=v`` CSV of a label map (the hash key the registry and its
    oracles share)."""
    return F.concat_ws(
        ",",
        F.array_sort(
            F.transform(F.map_entries(labels), lambda e: F.concat(e["key"], F.lit("="), e["value"]))
        ),
    )


def merge_scrape_labels(
    target_labels: Column, scraped_labels: Column, honor_labels: bool = False
) -> Column:
    """Prometheus scrape-time label conflict resolution (the
    ``honor_labels`` scrape-config setting the prometheusreceiver embeds,
    per the public scrape contract):

      - honor_labels=false (default): the TARGET's labels win; a scraped
        label whose name conflicts is kept under ``exported_<name>``;
      - honor_labels=true: the SCRAPED label wins; the target's
        conflicting label is dropped.

    One map projection, no shuffle. A scraped ``exported_<name>`` that
    collides with a renamed conflict resolves last-write-wins (matching
    our Set() convention; the pathological double-exported case is not
    name-chained, as in Prometheus)."""
    if honor_labels:
        only_target = F.map_filter(
            target_labels, lambda k, _v: F.element_at(scraped_labels, k).isNull()
        )
        return F.map_concat(only_target, scraped_labels)
    renamed_entries = F.transform(
        F.map_entries(scraped_labels),
        lambda e: F.struct(
            F.when(
                F.element_at(target_labels, e["key"]).isNotNull(),
                F.concat(F.lit("exported_"), e["key"]),
            )
            .otherwise(e["key"])
            .alias("key"),
            e["value"].alias("value"),
        ),
    )
    # fold Set() so a scraped 'exported_job' and a renamed 'job' ->
    # 'exported_job' collide last-write-wins instead of erroring
    renamed = F.aggregate(
        renamed_entries,
        F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>")
        ),
        lambda acc, e: _set_label(acc, e["key"], e["value"]),
    )
    only_new = F.map_filter(renamed, lambda k, _v: F.element_at(target_labels, k).isNull())
    return F.map_concat(target_labels, only_new)
