

def test_canonical_url_edge_cases(spark):
    """Edge inputs: non-default port kept, https :443 dropped, empty path
    -> '/', all-utm query -> no query, NULL url -> NULL, and the
    normalization is idempotent (canon(canon(u)) == canon(u))."""
    from pyspark.sql import functions as F

    from graphsense_ethereum_etl_spark.functions.text import canonical_url

    rows = [
        (0, "HTTP://A.B:80/x?b=2&a=1#f"),
        (1, "https://h:443/"),
        (2, "https://h:8443/x?z=1&y=2"),
        (3, "http://h"),
        (4, "http://h/p?utm_a=1&utm_b=2"),
        (5, "http://h/p?"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "i bigint, url string")
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url("url").alias("c")).collect()
    }
    assert got == {
        0: "http://a.b/x?a=1&b=2",
        1: "https://h/",
        2: "https://h:8443/x?y=2&z=1",
        3: "http://h/",
        4: "http://h/p",
        5: "http://h/p",
        6: None,
    }
    twice = {
        r.i: r.c2
        for r in df.select(
            "i", canonical_url(canonical_url("url")).alias("c2")
        ).collect()
    }
    assert twice == got  # idempotent


def _py_bpe_reference(rows, merges):
    r"""Pure-Python BPE mirroring bpe_token_counts' documented semantics:
    \x1f stripped from raw text, ASCII-\s word split (Java's default
    class), rules learned on the >= 2-char word vocabulary by
    (cnt desc, x, y) argmax, LEFT-TO-RIGHT NON-OVERLAPPING application,
    unlearnable rounds stop early. Returns {doc_id: (n_words,
    n_tokens)} with NULL/empty docs conserved as (0, 0)."""
    import re
    from collections import Counter

    def words_of(t):
        t = (t or "").lower().replace("\x1f", "")
        # ASCII-only strip: F.trim strips 0x20 only, and the \s+ split
        # already eats ASCII-ws runs at the edges; str.strip() would
        # also strip U+2028/U+0085, which Java \s and F.trim do NOT
        return [w for w in re.split(r"\s+", t, flags=re.ASCII) if w]

    def apply_rule(syms, rule):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == rule:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    freq = Counter()
    for _, t in rows:
        for w in words_of(t):
            if len(w) >= 2:
                freq[w] += 1
    vocab = {w: list(w) for w in freq}
    rules = []
    for _ in range(merges):
        pc = Counter()
        for w, syms in vocab.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += freq[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        rules.append(best)
        vocab = {w: apply_rule(s, best) for w, s in vocab.items()}

    tok_cache = {}

    def n_tok(w):
        if w not in tok_cache:
            syms = list(w)
            for rule in rules:
                syms = apply_rule(syms, rule)
            tok_cache[w] = len(syms)
        return tok_cache[w]

    out = {}
    for d, t in rows:
        ws = words_of(t)
        out[d] = (len(ws), sum(n_tok(w) for w in ws))
    return out


def test_bpe_token_counts_property_vs_python(spark):
    r"""r12 VERDICT #8 + ADVICE #3: bpe_token_counts at merges 0-8 vs the
    pure-Python reference on randomized corpora whose alphabet includes
    the frame byte \x1f (must be stripped, never collide with the
    separator framing), U+2028 (Java bare '.' skips it — the (?s)
    total-dot regression), and \x0B (whitespace in BOTH Java and ASCII
    Python \s). Pins runtime merge depth beyond the 2-merge SQL oracle."""
    import random as _random

    from graphsense_ethereum_etl_spark.operators.corpus import (
        bpe_token_counts,
    )

    alpha = "aab bc\x1f\u2028\x0b"
    rng = _random.Random(1302)
    rows = [
        (
            i,
            None
            if i == 0
            else "".join(
                rng.choice(alpha) for _ in range(rng.randrange(0, 40))
            ),
        )
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    for merges in range(9):
        want = _py_bpe_reference(rows, merges)
        got = {
            r["doc_id"]: (r["n_words"], r["n_tokens"])
            for r in bpe_token_counts(docs, merges=merges).collect()
        }
        assert got == want, (merges, got, want)
