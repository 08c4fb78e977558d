"""BPE merge training vs a pure-Python canonical reference.

The reference implementation below is the textbook algorithm (Sennrich et
al. 2016): word-frequency dict, count adjacent symbol pairs per occurrence,
merge the most frequent pair (ties lexicographic) with a greedy
left-to-right sweep, repeat. The distributed trainer must learn the same
merge list and produce the same tokenization.
"""

import warnings
from collections import Counter

import pytest

from opentelemetry_collector_contrib_spark.operators.bpe import (
    bpe_apply,
    bpe_merges_df,
    bpe_train,
)


def _ref_sweep(syms, a, b):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_train(texts, k):
    words = Counter()
    for t in texts:
        for w in t.lower().split():
            words[w] += 1
    dic = {w: list(w) for w in words}
    merges = []
    for _ in range(k):
        pairs = Counter()
        for w, syms in dic.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += words[w]
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        dic = {w: _ref_sweep(s, a, b) for w, s in dic.items()}
    return merges, dic


CORPUS = [
    "low low low low low",
    "lower lower newest newest newest",
    "newest newest newest widest widest",
    "the lowest newest west nest",
    "abababab aaa banana bandana",
]


def test_bpe_train_matches_reference(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = bpe_train(df, 8)
    want, _ = _ref_train(CORPUS, 8)
    assert [(m["left"], m["right"], m["pair_count"]) for m in got] == want


def test_bpe_apply_matches_reference_tokenization(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "i long, text string")
    merges = bpe_train(df, 8)
    rows = bpe_apply(df, merges).orderBy("i").collect()
    _, dic = _ref_train(CORPUS, 8)
    for r in rows:
        want = [tok for w in CORPUS[r["i"]].lower().split() for tok in dic[w]]
        assert r["bpe_tokens"] == want


def test_bpe_repeat_runs_greedy(spark):
    # 'aaaa' with merge (a,a) must tokenize [aa, aa]; 'aaa' -> [aa, a]
    df = spark.createDataFrame([("aaaa aaaa aaa",)], "text string")
    merges = bpe_train(df, 1)
    assert (merges[0]["left"], merges[0]["right"]) == ("a", "a")
    out = bpe_apply(df, merges).collect()[0]["bpe_tokens"]
    assert out == ["aa", "aa", "aa", "aa", "aa", "a"]


def test_bpe_early_stop_single_chars(spark):
    # corpus of 1-char words has no pairs: zero merges, not an error
    df = spark.createDataFrame([("a b c a",)], "text string")
    assert bpe_train(df, 4) == []
    assert bpe_merges_df(df, 4).count() == 0


# --- property: one replace over the double-delimiter encoding == greedy ------
# Python str.replace, Spark replace(), and DuckDB replace() all substitute
# non-overlapping matches left-to-right without rescanning replacement text,
# so proving the equivalence over Python's replace proves it for the engine
# expressions that bpe_apply and the SQL oracle compile to. (This test found
# the original single-delimiter double-replace encoding mispairing odd repeat
# runs — 'aaaaa' merged (0,1),(3,4) instead of greedy (0,1),(2,3).)

from hypothesis import given, settings
from hypothesis import strategies as st

DELIM = "\x1f"


def _replace_apply(syms, a, b):
    # EXACTLY the production encoding (_delimited): leading DELIM, every
    # symbol followed by a DOUBLE delimiter — '.a..b..c..' — so this
    # cross-check runs against the string shape bpe_apply actually builds.
    s = DELIM + "".join(sym + DELIM + DELIM for sym in syms)
    pat = DELIM + a + DELIM + DELIM + b + DELIM
    rep = DELIM + a + b + DELIM
    s = s.replace(pat, rep)
    return [t for t in s.split(DELIM) if t]


@settings(max_examples=500, deadline=None)
@given(
    st.lists(st.sampled_from("ab"), min_size=0, max_size=12),
    st.integers(min_value=0, max_value=5),
)
def test_double_replace_equals_greedy_sweep(chars, n_merges):
    # apply a deterministic sequence of merges, each defined over the
    # CURRENT symbol inventory, both ways
    syms_ref = list(chars)
    syms_dr = list(chars)
    for k in range(n_merges):
        inventory = sorted(set(syms_ref))
        if not inventory:
            break
        a = inventory[k % len(inventory)]
        b = inventory[(k + 1) % len(inventory)]
        syms_ref = _ref_sweep(syms_ref, a, b)
        syms_dr = _replace_apply(syms_dr, a, b)
        assert syms_dr == syms_ref, (chars, k, a, b)


def test_bpe_apply_odd_repeat_run(spark):
    # 'aaaaa' must pair greedily: [aa, aa, a] — the case the naive
    # single-delimiter encoding got wrong
    df = spark.createDataFrame([("aaaaa aaaa",)], "text string")
    merges = bpe_train(df, 1)
    out = bpe_apply(df, merges).collect()[0]["bpe_tokens"]
    assert out == ["aa", "aa", "a", "aa", "aa"]


def test_bpe_train_k256_driver_loop_is_fast(spark):
    """Round-4 scale criterion: a real vocabulary-size merge count (k=256)
    must train in seconds — the merge loop is driver-side with incremental
    pair updates, ONE distributed word-dict aggregation total (the old
    shape scheduled one Spark job per merge and k=256 took minutes)."""
    import time

    rows = [(f"doc{i} " + " ".join(
        f"w{(i * 7 + j) % 97}x{(i + j * 3) % 53}" for j in range(30)
    ),) for i in range(400)]
    df = spark.createDataFrame(rows, "text string")
    t0 = time.monotonic()
    merges = bpe_train(df, 256)
    took = time.monotonic() - t0
    assert len(merges) == 256
    assert [m["rank"] for m in merges] == list(range(256))
    # monotone non-increasing is NOT guaranteed by BPE, but counts stay ≥1
    assert all(m["pair_count"] >= 1 for m in merges)
    assert took < 60, f"k=256 training took {took:.1f}s"


def test_bpe_train_k256_matches_reference(spark):
    merges = bpe_train(spark.createDataFrame([(t,) for t in CORPUS], "text string"), 256)
    ref, _ = _ref_train(CORPUS, 256)
    assert [(m["left"], m["right"], m["pair_count"]) for m in merges] == ref


def test_bpe_train_max_words_bounds_collect(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    full = bpe_train(df, 3)
    with pytest.warns(UserWarning, match="max_words=3"):
        capped = bpe_train(df, 3, max_words=3)  # top-3 words by freq only
    assert len(capped) == 3 and capped != full  # trained, but on the capped dict


def test_bpe_train_warns_only_when_max_words_truncates(spark):
    """A 3-word dictionary capped at 2 warns, naming the cap, and learns
    exactly the merges of the top-2 words by frequency; no cap, or a cap
    at or above the word count, trains silently on every word."""
    texts = ["aab aab aab", "abb abb", "cd"]  # aab:3, abb:2, cd:1
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    with pytest.warns(UserWarning, match="max_words=2"):
        capped = bpe_train(df, 3, max_words=2)
    ref_top2, _ = _ref_train(["aab aab aab", "abb abb"], 3)
    assert [(m["left"], m["right"], m["pair_count"]) for m in capped] == ref_top2

    ref_all, _ = _ref_train(texts, 3)
    for cap in (None, 3, 10):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            merges = bpe_train(df, 3, max_words=cap)
        assert not [w for w in caught if "max_words" in str(w.message)], cap
        assert [(m["left"], m["right"], m["pair_count"]) for m in merges] == ref_all, cap
