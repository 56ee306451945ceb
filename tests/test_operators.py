"""Operator unit tests (SURVEY §5.3.2): tiny inline frames, edge cases,
and the rows-only queries the oracle can't check."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from eventstreams_spark import registry

registry._ensure_loaded()


def test_ann_lsh_recall_probe_quality(spark, sf_dir):
    """Multi-table LSH must beat trivial floors on BOTH axes: real
    recall AND a candidate set well under the full corpus (everything
    is hash-deterministic, so these bounds are stable, not flaky)."""
    row = registry.REGISTRY["ann_lsh_recall_probe"].builder(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.recall_at_5 >= 0.6
    assert r.candidate_frac < 0.6
    assert r.n_candidates >= 5


def test_drop_exact_duplicates_keeps_deterministic_winner(spark):
    from eventstreams_spark.operators.dedup import drop_exact_duplicates

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, None)],
        "id long, text string",
    )
    out = drop_exact_duplicates(df, "text", "id").collect()
    kept = sorted((r.id, r.text) for r in out)
    # lowest id wins per content; NULL text keeps its own group
    assert kept == [(1, "aaa"), (2, "bbb"), (5, None)]


def test_simhash_similar_texts_close(spark):
    from eventstreams_spark.operators.dedup import hamming64, simhash64_signature

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy cat near the river bank"),
            (3, "completely unrelated words about spark shuffle partitions and joins"),
        ],
        "id long, text string",
    )
    toks = F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda x: x != "")
    sigs = {r.id: r.sig for r in df.select("id", simhash64_signature(toks).alias("sig")).collect()}
    d = df.sparkSession.createDataFrame(
        [(sigs[1], sigs[2], sigs[3])], "a long, b long, c long"
    ).select(
        hamming64(F.col("a"), F.col("b")).alias("near"),
        hamming64(F.col("a"), F.col("c")).alias("far"),
    ).collect()[0]
    assert d.near < d.far, f"simhash ordering violated: near={d.near} far={d.far}"
    assert d.near <= 16


def test_approx_count_distinct_tolerance(spark, sf_dir):
    from eventstreams_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) <= max(2, 0.05 * row.exact)


def test_skewness_kurtosis_vs_numpy(spark, sf_dir):
    """Spark's skewness/kurtosis are population (g1/g2) definitions;
    DuckDB's are bias-corrected sample stats — so they are excluded
    from oracle queries and pinned against numpy here instead."""
    import numpy as np

    from eventstreams_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    row = ev.agg(
        F.skewness("value").alias("skew"), F.kurtosis("value").alias("kurt")
    ).collect()[0]
    vals = np.array([r.value for r in ev.select("value").collect()])
    n = len(vals)
    m = vals.mean()
    m2 = ((vals - m) ** 2).mean()
    m3 = ((vals - m) ** 3).mean()
    m4 = ((vals - m) ** 4).mean()
    g1 = m3 / m2**1.5
    g2 = m4 / m2**2 - 3.0
    assert row.skew == pytest.approx(g1, rel=1e-6)
    assert row.kurt == pytest.approx(g2, rel=1e-6)


def test_grok_compiler():
    from eventstreams_spark.functions.grok import grok_to_regex

    regex, fields = grok_to_regex("%{IP:client} - %{WORD:method} %{NUMBER:bytes}")
    assert fields == ["client", "method", "bytes"]
    import re

    m = re.match(regex, "10.1.2.3 - GET 1234")
    assert m and m.group(1) == "10.1.2.3" and m.group(3) == "1234"


def test_minhash_candidates_find_injected_dups(spark, sf_dir):
    out = registry.REGISTRY["neardup_minhash_candidates"].builder(spark, sf_dir).collect()
    pairs = {(r.id1, r.id2) for r in out}
    # every injected near-dup (id + 1000000) should be a candidate
    injected = {p for p in pairs if p[1] - p[0] == 1000000}
    assert injected, f"no injected near-dup pairs among {len(pairs)} candidates"


def test_rolling_hash_fingerprint_edit_robust(spark):
    from eventstreams_spark.operators.dedup import rolling_hash_fingerprint

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    edited = base.replace("kappa", "kappa2", 1)  # one token changed
    df = spark.createDataFrame([(1, base), (2, edited), (3, "tiny doc")], "id long, text string")
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
    fps = {
        r.id: r.fp
        for r in df.select("id", rolling_hash_fingerprint(toks).alias("fp")).collect()
    }
    # a one-token edit shares most bottom-k gram hashes
    assert len(set(fps[1]) & set(fps[2])) >= 2
    # short doc (< window tokens) yields an empty fingerprint, not an error
    assert fps[3] == []


def test_sample_fraction_bounds(spark, sf_dir):
    from eventstreams_spark.catalog import load_table

    n_total = load_table(spark, sf_dir, "events").count()
    rows = registry.REGISTRY["sample_fraction"].builder(spark, sf_dir).collect()
    n_sampled = sum(r.n_sampled for r in rows)
    assert 0.05 * n_total <= n_sampled <= 0.15 * n_total


def test_simhash_pairs_injected_dups_are_near(spark, sf_dir):
    out = registry.REGISTRY["simhash_hamming_pairs"].builder(spark, sf_dir).collect()
    assert out, "no injected pairs"
    # 'dup prefix ' + same text: signatures should be within a few bits
    assert all(r.hamming <= 8 for r in out), sorted(r.hamming for r in out)


def test_ngram_jaccard_separates_dups_from_controls(spark, sf_dir):
    out = registry.REGISTRY["neardup_ngram_jaccard"].builder(spark, sf_dir).collect()
    dups = [r.jaccard for r in out if r.id2 - r.id1 == 1000000]
    ctrl = [r.jaccard for r in out if r.id2 - r.id1 == 1]
    assert dups and min(dups) >= 0.8
    assert not ctrl or max(ctrl) <= 0.3


def test_grok_composite_apache_log_spark_side(spark):
    """COMBINEDAPACHELOG through Spark regexp_extract (Java regex) —
    composite patterns contribute their embedded field names in
    capture-group order."""
    from eventstreams_spark.functions.grok import grok_extract

    line = (
        '93.180.71.3 - frank [18/Nov/2023:10:27:31 +0000] '
        '"GET /downloads/product_1?x=1 HTTP/1.1" 304 1024 '
        '"http://example.com/start" "Mozilla/5.0 (X11; Linux x86_64)"'
    )
    df = spark.createDataFrame([(line,)], "line string")
    cols = grok_extract("line", "%{COMBINEDAPACHELOG}")
    row = df.select(*[c.alias(k) for k, c in cols.items()]).collect()[0]
    assert row.clientip == "93.180.71.3"
    assert row.auth == "frank"
    assert row.verb == "GET"
    assert row.request == "/downloads/product_1?x=1"
    assert row.response == "304"
    assert row.bytes == "1024"
    assert row.agent.startswith('"Mozilla/5.0')


def test_grok_syslogline_spark_side(spark):
    from eventstreams_spark.functions.grok import grok_extract

    df = spark.createDataFrame(
        [("Jan 12 06:30:45 web01 sshd[2451]: Failed password",)], "line string"
    )
    cols = grok_extract("line", "%{SYSLOGLINE}")
    row = df.select(*[c.alias(k) for k, c in cols.items()]).collect()[0]
    assert (row.syslog_host, row.program, row.pid) == ("web01", "sshd", "2451")
    assert row.syslog_message == "Failed password"


_GROK_LINES = [
    '93.180.71.3 - frank [18/Nov/2023:10:27:31 +0000] "GET /d/p_1?x=1 HTTP/1.1" 304 1024 '
    '"http://example.com/start" "Mozilla/5.0 (X11; Linux x86_64)"',
    'web-01.example.com - - [01/Jan/2024:00:00:00 +0000] "POST /api" 500 - "-" "curl/8"',
    "Jan 12 06:30:45 web01 sshd[2451]: Failed password for $1 from \\ here",
    "Feb  3 23:59:59 10.0.0.7 cron: (root) CMD",
]
_GROK_PATTERNS = [
    "%{COMBINEDAPACHELOG}",
    "%{SYSLOGLINE}",
    "%{COMMONAPACHELOG}",  # optional httpversion and bytes groups
    r"^%{SYSLOGTIMESTAMP:ts} %{IPORHOST:host}(?: %{PROG:prog}(?:\[%{POSINT:pid}\])?)?",
]
_GROK_SPECIAL = ["", "\u0001", "\n", "$", "$1", "\\", "\\1"]


_grok_noise = st.text(alphabet='ab 1.:[]"\u0001\n$\\', max_size=4)
_grok_body = st.tuples(
    st.sampled_from(_GROK_LINES + [""]),
    st.integers(min_value=0, max_value=150),
    st.sampled_from(_GROK_SPECIAL),
).map(lambda t: t[0][: t[1]] + t[2] + t[0][t[1]:])
_grok_values = st.lists(
    st.one_of(
        st.none(),
        st.sampled_from(_GROK_SPECIAL),
        st.tuples(_grok_noise, _grok_body, _grok_noise).map("".join),
    ),
    min_size=1,
    max_size=25,
)


@settings(deadline=None, max_examples=12, print_blob=False)
@given(_grok_values)
def test_grok_extract_equals_per_field_regexp_extract(spark, vals):
    """grok_extract's one-match kernel is exactly per-field
    regexp_extract (first match, "" for no match or an absent group,
    NULL for NULL), including values holding the rewrite separator,
    replacement metacharacters, newlines and text around the match.
    Batched: one Spark job per hypothesis example."""
    from eventstreams_spark.functions.grok import grok_extract, grok_to_regex

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id int, v string")
    got, want = [], []
    for p, pat in enumerate(_GROK_PATTERNS):
        regex, fields = grok_to_regex(pat)
        cols = grok_extract("v", pat)
        assert list(cols) == fields
        for i, f in enumerate(fields):
            got.append(cols[f].alias(f"g{p}_{f}"))
            want.append(F.regexp_extract("v", regex, i + 1).alias(f"w{p}_{f}"))
    rows = df.select("id", F.array(*got).alias("got"), F.array(*want).alias("want")).collect()
    for r in rows:
        assert r.got == r.want, repr(vals[r.id])


def test_grok_chain_plans_one_match_per_row(spark, tmp_path):
    """Plan tripwire on the ingest chain (grok → date → translate →
    deadletter): the healthy frame matches the grok regex once in the
    pushed-down Filter and once in the Project (was once per field),
    and every regexp_extract sits in the separator fallback branch."""
    import re

    from eventstreams_spark.pipeline import Pipeline

    src = tmp_path / "log.txt"
    src.write_text("\n".join(_GROK_LINES[:2] + ["garbled line"]) + "\n")
    steps = [
        {"type": "grok", "source": "value", "pattern": "%{COMBINEDAPACHELOG}"},
        {"type": "date", "source": "timestamp", "formats": ["dd/MMM/yyyy:HH:mm:ss Z"]},
        {"type": "translate", "source": "response", "mapping": {"200": "ok"},
         "target": "status_class", "default": "other"},
        {"type": "deadletter", "when": "clientip = ''", "reason": "grok_failure"},
    ]
    healthy, dead = Pipeline.from_config({"steps": steps}).apply_split(spark.read.text(str(src)))
    plan = healthy._jdf.queryExecution().executedPlan().toString()
    # the scan line repeats the pushed filter, truncated: operators only
    ops = "\n".join(ln for ln in plan.splitlines() if "FileScan" not in ln)
    assert ops.count("regexp_replace(") == 2, plan
    assert ops.count("CASE WHEN Contains(value#") == 2, plan
    fast_path = re.sub(r"THEN array\(regexp_extract\(.*? ELSE slice\(", "", ops)
    assert "regexp_extract(" not in fast_path, plan
    assert healthy.count() == 2 and dead.count() == 1


def test_grok_unknown_and_cycle_guard():
    import pytest as _pytest

    from eventstreams_spark.functions import grok as G

    with _pytest.raises(KeyError):
        G.grok_to_regex("%{NO_SUCH_PATTERN:x}")
    G.PATTERNS["_CYC"] = "%{_CYC}"
    try:
        with _pytest.raises(ValueError):
            G.grok_to_regex("%{_CYC:x}")
    finally:
        del G.PATTERNS["_CYC"]


def test_ann_ivf_recall_probe_quality(spark, sf_dir):
    """IVF probe: recall above the random floor (candidate_frac) and a
    candidate set ≈ nprobe/k of the corpus. Seeding and Lloyd steps are
    hash-deterministic, so bounds are stable."""
    row = registry.REGISTRY["ann_ivf_recall_probe"].builder(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.recall_at_5 >= 0.4
    assert r.candidate_frac <= 0.35  # ~ nprobe/k = 0.25 on uniform data
    assert r.n_candidates >= 5


def test_ivf_clustered_data_high_recall(spark):
    """On genuinely clustered vectors (the real-corpus regime) IVF must
    send the query to the right cluster: recall == 1 with a small
    candidate fraction."""
    from eventstreams_spark.operators.ivf import ivf_build, ivf_probe_ids
    from eventstreams_spark.operators.similarity import cosine_topk

    # 4 well-separated clusters in 8-dim: one axis-aligned spike each,
    # deterministic jitter on the other axes.
    rows = []
    for i in range(200):
        c = i % 4
        vec = [((i * 37 + d * 11) % 7 - 3) * 0.02 for d in range(8)]
        vec[c * 2] += 1.0
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    assigned, cents = ivf_build(df, "vec", "vec_id", n_centroids=4, n_iters=2)
    q = df.filter(F.col("vec_id") == 0).select(F.col("vec").alias("qvec"))
    corpus = df.filter(F.col("vec_id") != 0)
    exact = cosine_topk(corpus, q, "vec", "qvec", k=5)
    cands = ivf_probe_ids(assigned.filter(F.col("vec_id") != 0), cents, q, nprobe=1)
    ann = cosine_topk(cands, q, "vec", "qvec", k=5)
    hits = exact.select("vec_id").intersect(ann.select("vec_id")).count()
    n_c = cands.count()
    assert hits == 5            # perfect recall probing ONE cluster
    assert n_c <= 0.35 * 199    # ... while scanning ~1/4 of the corpus


def test_tablesample_repeatable_deterministic(spark, sf_dir):
    """Hash-threshold cluster sampling must return the identical
    sample on every run, keep whole user clusters (every row of a
    sampled user), and land near the 9.375% design rate."""
    from eventstreams_spark.catalog import load_table
    from eventstreams_spark.registry import REGISTRY

    fn = REGISTRY["tablesample_repeatable"].builder
    a = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert a == b
    assert sum(r[1] for r in a) > 0
    # cluster property: a sampled user contributes ALL their rows —
    # total sampled rows == exact row count of the sampled users
    ev = load_table(spark, sf_dir, "events")
    sampled_users = (
        ev.select("user_id")
        .distinct()
        .filter(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4) < "1800")
    )
    expect = ev.join(sampled_users, "user_id").count()
    assert sum(r[1] for r in a) == expect


def test_heavy_hitters_misra_gries_guarantees(spark, sf_dir):
    """MG contract: estimates never exceed true counts, every item
    with true count > N/k is present, and its estimate is within N/k
    of truth. With k >= distinct items the sketch is exact."""
    from eventstreams_spark.catalog import load_table
    from eventstreams_spark.operators.heavyhitters import heavy_hitters

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    true = {r.tok: r.n for r in toks.groupBy("tok").agg(F.count("*").alias("n")).collect()}
    n_total = sum(true.values())
    k = 16
    est = {r.item: r.est_count for r in heavy_hitters(toks, "tok", k=k).collect()}
    # per-partition error sums: bound is N/k overall
    bound = n_total / k
    for item, e in est.items():
        assert e <= true[item]
        assert e >= true[item] - bound
    for item, t in true.items():
        if t > bound:
            assert item in est, f"frequent item {item} missing"
    # exact when k exceeds the vocabulary
    exact = {r.item: r.est_count for r in heavy_hitters(toks, "tok", k=10_000).collect()}
    assert exact == true


def test_grok_pattern_dictionary_sweep():
    """Every atom in the core pattern dictionary compiles standalone
    and matches a canonical example (and rejects a counter-example
    where the pattern is anchored enough to say so) — the pattern
    library is data, so this is its table-driven spec."""
    import re

    from eventstreams_spark.functions.grok import PATTERNS, grok_to_regex

    examples = {
        "WORD": "hello_1",
        "NOTSPACE": "a/b:c",
        "DATA": "",
        "GREEDYDATA": "anything at all",
        "INT": "-42",
        "POSINT": "17",
        "NONNEGINT": "0",
        "NUMBER": "3.14",
        "BASE10NUM": "-0.5",
        "BASE16NUM": "0xDEADbeef",
        "IP": "192.168.0.1",
        "IPV6": "2001:db8::1",
        "HOSTNAME": "web-01.example.com",
        "IPORHOST": "10.0.0.1",
        "USERNAME": "svc.user-1",
        "USER": "root",
        "EMAILADDRESS": "a.b+c@example.org",
        "MAC": "00:1A:2b:3C:4d:5E",
        "UUID": "123e4567-e89b-12d3-a456-426614174000",
        "LOGLEVEL": "ERROR",
        "MONTH": "Sep",
        "MONTHNUM": "09",
        "MONTHDAY": "31",
        "DAY": "Fri",
        "YEAR": "2024",
        "HOUR": "23",
        "MINUTE": "59",
        "SECOND": "59.123",
        "TIME": "23:59:59",
        "TIMESTAMP_ISO8601": "2024-01-02T03:04:05.678Z",
        "HTTPDATE": "18/Nov/2023:10:27:31 +0000",
        "SYSLOGTIMESTAMP": "Jan  2 03:04:05",
        "URIPROTO": "https",
        "URIHOST": "example.com:8443",
        "URIPATH": "/a/b-c/d.e",
        "URIPARAM": "?k=v&x=1",
        "URIPATHPARAM": "/p?q=1",
        "URI": "https://u:p@example.com:80/path?x=1",
        "QS": '"quoted \\" string"',
        "QUOTEDSTRING": '"ok"',
        "PROG": "systemd-logind",
        "SYSLOGHOST": "host1",
    }
    missing = set(PATTERNS) - set(examples) - {
        "SPACE",  # matches empty by design
        "SYSLOGPROG",  # carries fields; covered by SYSLOGLINE test
        "COMMONAPACHELOG", "COMBINEDAPACHELOG", "SYSLOGLINE",  # composites, own tests
    }
    assert not missing, f"patterns without examples: {missing}"
    for name, example in examples.items():
        regex, fields = grok_to_regex("%{" + name + ":x}")
        assert fields == ["x"], name
        m = re.fullmatch(regex, example)
        assert m and m.group(1) == example, (name, example, regex[:80])
    # a few counter-examples on the anchored atoms
    for name, bad in [("IP", "300.1.2"), ("POSINT", "0"), ("LOGLEVEL", "NOISE"),
                      ("UUID", "123"), ("MAC", "001A2b3C4d5E")]:
        regex, _ = grok_to_regex("%{" + name + ":x}")
        assert re.fullmatch(regex, bad) is None, (name, bad)


def test_dtw_banded_dp_unreachable_returns_none():
    """ADVICE r5 (medium): when |len_a - len_b| > band the end cell
    lies outside the Sakoe-Chiba band and is unreachable; the DP
    helper must return None — never the 'big' int64 sentinel that
    used to leak out as a ~2.3e18 garbage distance."""
    from eventstreams_spark.queries.forecast_extra import _dtw_banded_dp

    a = list(range(20))
    # gap of 8 > band 7: unreachable
    assert _dtw_banded_dp(a, a[:12], band=7) is None
    # gap of exactly the band: reachable (diagonal-ish path exists)
    assert _dtw_banded_dp(a, a[:13], band=7) is not None
    # equal lengths: matches an unbanded quadratic reference when the
    # optimal path stays inside the band
    xa = [3, 1, 4, 1, 5, 9, 2, 6]
    xb = [2, 7, 1, 8, 2, 8, 1, 8]

    def dtw_full(x, y):
        n, m = len(x), len(y)
        big = 1 << 60
        D = [[big] * (m + 1) for _ in range(n + 1)]
        D[0][0] = 0
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                c = abs(x[i - 1] - y[j - 1])
                D[i][j] = c + min(
                    D[i - 1][j], D[i][j - 1], D[i - 1][j - 1]
                )
        return D[n][m]

    assert _dtw_banded_dp(xa, xb, band=7) == dtw_full(xa, xb)
    # identical series: zero distance
    assert _dtw_banded_dp(xa, xa, band=7) == 0


def test_gotoh_affine_score_matches_exhaustive_enumeration():
    """Gotoh 3-matrix DP vs an INDEPENDENT exhaustive enumeration of
    all alignments (move sequences scored with affine gaps): equal on
    random tiny inputs. Also pins the affine-vs-linear contrast: one
    length-3 gap costs open+2*ext = 5, not NW's 6."""
    import random

    from eventstreams_spark.queries.forecast_extra import (
        _gotoh_affine_score,
    )

    def brute(xa, xb, match=2, mismatch=-1, go=3, ge=1):
        best = [None]

        def rec(i, j, moves):
            if i == len(xa) and j == len(xb):
                sc, prev, ia, ib = 0, None, 0, 0
                for mv in moves:
                    if mv == "M":
                        sc += match if xa[ia] == xb[ib] else mismatch
                        ia += 1
                        ib += 1
                    elif mv == "A":
                        sc += -(go if prev != "A" else ge)
                        ia += 1
                    else:
                        sc += -(go if prev != "B" else ge)
                        ib += 1
                    prev = mv
                if best[0] is None or sc > best[0]:
                    best[0] = sc
                return
            if i < len(xa) and j < len(xb):
                rec(i + 1, j + 1, moves + ["M"])
            if i < len(xa):
                rec(i + 1, j, moves + ["A"])
            if j < len(xb):
                rec(i, j + 1, moves + ["B"])

        rec(0, 0, [])
        return best[0]

    rng = random.Random(42)
    for _ in range(60):
        na, nb = rng.randint(1, 6), rng.randint(1, 6)
        xa = [rng.randint(0, 2) for _ in range(na)]
        xb = [rng.randint(0, 2) for _ in range(nb)]
        assert _gotoh_affine_score(xa, xb) == brute(xa, xb), (xa, xb)
    # affine beats linear on one long gap: align [0,1,2] vs
    # [0,1,2,0,0,0] -> 3 matches (+6), one length-3 gap (-5) = 1
    assert _gotoh_affine_score([0, 1, 2], [0, 1, 2, 0, 0, 0]) == 1
    # identical sequences: all matches
    assert _gotoh_affine_score([1, 2, 0, 1], [1, 2, 0, 1]) == 8


def test_smith_waterman_matches_all_substring_pairs_maximum():
    """SW local score == max over ALL substring pairs of the global
    (no-floor) NW score — the definitional characterization, computed
    by brute force on tiny inputs."""
    import itertools
    import random

    from eventstreams_spark.queries.forecast_extra import (
        _smith_waterman_score,
    )

    def nw_global(x, y, match=2, mismatch=-1, gap=-2):
        prev = [gap * j for j in range(len(y) + 1)]
        for i in range(1, len(x) + 1):
            cur = [gap * i] + [0] * len(y)
            for j in range(1, len(y) + 1):
                s = match if x[i - 1] == y[j - 1] else mismatch
                cur[j] = max(prev[j] + gap, cur[j - 1] + gap, prev[j - 1] + s)
            prev = cur
        return prev[-1]

    def brute_local(xa, xb):
        best = 0
        for i0, i1 in itertools.combinations(range(len(xa) + 1), 2):
            for j0, j1 in itertools.combinations(range(len(xb) + 1), 2):
                best = max(best, nw_global(xa[i0:i1], xb[j0:j1]))
        return best

    rng = random.Random(7)
    for _ in range(30):
        na, nb = rng.randint(1, 7), rng.randint(1, 7)
        xa = [rng.randint(0, 2) for _ in range(na)]
        xb = [rng.randint(0, 2) for _ in range(nb)]
        assert _smith_waterman_score(xa, xb) == brute_local(xa, xb), (xa, xb)
    # disjoint alphabets: no positive local alignment
    assert _smith_waterman_score([0, 0], [1, 1]) == 0
    # embedded common episode dominates unrelated flanks
    assert _smith_waterman_score(
        [1, 1, 0, 2, 1, 0, 2], [2, 2, 0, 2, 1, 0, 1]
    ) >= 8  # the shared 0,2,1,0 episode: 4 matches


def test_smith_waterman_traceback_is_valid_and_optimal():
    """The traceback's emitted alignment must RE-SCORE to exactly the
    DP optimum (sum of +2 match / −1 mismatch / −2 gap over its
    columns), its gap-stripped rows must be the claimed [start, end]
    substrings of the inputs, and it must never align gap against
    gap — checked on random inputs against the independently-verified
    score-only DP."""
    import random

    from eventstreams_spark.queries.forecast_extra import (
        _smith_waterman_score,
        _smith_waterman_traceback,
    )

    rng = random.Random(11)
    for _ in range(60):
        na, nb = rng.randint(1, 9), rng.randint(1, 9)
        xa = [rng.randint(0, 2) for _ in range(na)]
        xb = [rng.randint(0, 2) for _ in range(nb)]
        score, a0, a1, b0, b1, aa, ab = _smith_waterman_traceback(xa, xb)
        assert score == _smith_waterman_score(xa, xb), (xa, xb)
        if score == 0:
            assert (aa, ab) == ("", "")
            continue
        assert len(aa) == len(ab)
        rescore = 0
        for ca, cb in zip(aa, ab):
            assert not (ca == "-" and cb == "-")
            if ca == "-" or cb == "-":
                rescore -= 2
            elif ca == cb:
                rescore += 2
            else:
                rescore -= 1
        assert rescore == score, (xa, xb, aa, ab)
        assert aa.replace("-", "") == "".join(
            str(v) for v in xa[a0 - 1:a1]
        )
        assert ab.replace("-", "") == "".join(
            str(v) for v in xb[b0 - 1:b1]
        )


def test_gotoh_local_matches_substring_pairs_of_global_gotoh():
    """Local affine score == max(0, max over ALL substring pairs of
    the enumeration-verified GLOBAL Gotoh score) — the definitional
    characterization (any gapped flank a global alignment of a
    substring pair would pay for is trimmed by some smaller pair)."""
    import itertools
    import random

    from eventstreams_spark.queries.forecast_extra import (
        _gotoh_affine_score,
        _gotoh_local_score,
    )

    def brute_local(xa, xb):
        best = 0
        for i0, i1 in itertools.combinations(range(len(xa) + 1), 2):
            for j0, j1 in itertools.combinations(range(len(xb) + 1), 2):
                best = max(
                    best, _gotoh_affine_score(xa[i0:i1], xb[j0:j1])
                )
        return best

    rng = random.Random(11)
    for _ in range(40):
        na, nb = rng.randint(1, 6), rng.randint(1, 6)
        xa = [rng.randint(0, 2) for _ in range(na)]
        xb = [rng.randint(0, 2) for _ in range(nb)]
        assert _gotoh_local_score(xa, xb) == brute_local(xa, xb), (xa, xb)
    # disjoint alphabets: empty local alignment
    assert _gotoh_local_score([0, 0], [1, 1]) == 0
    # a length-3 interior gap inside a shared episode: affine bridges
    # it for open+2*ext = 5 (score 12-5=7) where SW's linear charge
    # is 3*2 = 6 (score 12-6=6) — the affine-vs-linear contrast at
    # the local level
    from eventstreams_spark.queries.forecast_extra import (
        _smith_waterman_score,
    )

    xa = [0, 1, 1, 2, 2, 2, 0, 1, 1]
    xb = [0, 1, 1, 0, 1, 1]
    assert _gotoh_local_score(xa, xb) == 7
    assert _smith_waterman_score(xa, xb) == 6


def test_fp_growth_local_matches_subset_census():
    """The FP-tree miner equals a brute-force subset census (every
    subset of every transaction, counted, thresholded) on random tiny
    transaction databases — all itemset sizes."""
    import itertools
    import random

    from eventstreams_spark.operators.fpgrowth import fp_growth_local

    def brute(txs, minsup):
        cnt = {}
        for t in txs:
            s = sorted(set(t))
            for k in range(1, len(s) + 1):
                for sub in itertools.combinations(s, k):
                    cnt[sub] = cnt.get(sub, 0) + 1
        return {k: v for k, v in cnt.items() if v >= minsup}

    rng = random.Random(13)
    for trial in range(40):
        n_tx = rng.randint(1, 12)
        txs = [
            sorted(rng.sample(range(6), rng.randint(1, 5)))
            for _ in range(n_tx)
        ]
        minsup = rng.randint(1, 4)
        got = fp_growth_local(txs, minsup)
        want = brute(txs, minsup)
        assert got == want, (txs, minsup, got, want)
    # duplicate items within a transaction count once (set semantics
    # are the CALLER's contract: inputs are distinct-item lists)
    assert fp_growth_local([[0, 1], [0, 1], [0]], 2) == {
        (0,): 3, (1,): 2, (0, 1): 2,
    }
