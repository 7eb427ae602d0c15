"""L2 text analytics: DuckDB-oracle parity (SURVEY §7 step 3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_analytics_cse545_spark.operators import text
from tests.oracle_utils import assert_parity


@pytest.mark.parametrize("name", sorted(text.ORACLE))
def test_text_oracle_parity(spark, sf_correctness, name):
    df = text.QUERIES[name](spark, sf_correctness)
    assert_parity(df, text.ORACLE[name], sf_correctness, name)


def test_only_t24_lacks_an_oracle():
    """Every text query is DuckDB-oracle-checked except the ones with a
    documented rows-only rationale — a new no-oracle query must be added
    HERE deliberately, not fall out of the parity sweep silently."""
    assert set(text.QUERIES) - set(text.ORACLE) == {
        "t24_bpe_train",
        "t25_bpe_encode",  # r11: encodes with the trainer's merge table
    }


def test_wordcount_counts_are_case_insensitive(spark, sf_smoke):
    """WordCount reference semantics: lowercase before counting
    (a1p1_ahuja.py:184)."""
    rows = text.t01_wordcount(spark, sf_smoke).collect()
    assert rows, "expected non-empty wordcount"
    assert all(r["word"] == r["word"].lower() for r in rows)
    assert rows[0]["n"] >= rows[-1]["n"]


def test_t11_detects_and_scrubs_planted_pii(spark, sf_correctness):
    """Every PII_MOD-th doc carries the planted contact line: it must be
    detected (all three pattern kinds) and the scrub must leave no
    residual matches."""
    from pyspark.sql import functions as F

    rows = text.t11_pii_scrub(spark, sf_correctness).collect()
    assert rows
    planted = [r for r in rows if r["doc_id"] % text.PII_MOD == 0]
    assert planted, "no planted-PII docs surfaced"
    assert all(
        r["n_emails"] >= 1 and r["n_ips"] >= 1 and r["n_phones"] >= 1
        for r in planted
    )
    # api.pii_scrub: scrubbed text contains no remaining matches
    from big_data_analytics_cse545_spark import api

    df = spark.createDataFrame(
        [(1, "mail a.b@x.io or 10.1.2.3 or 555-123-4567 end")],
        "id long, text string",
    )
    out = api.pii_scrub(df, "text").first()["text"]
    assert out == "mail <EMAIL> or <IP> or <PHONE> end"
    for pat in (text.PII_EMAIL, text.PII_IP, text.PII_PHONE):
        assert (
            df.sparkSession.createDataFrame([(out,)], "t string")
            .filter(F.expr(f"t rlike '{pat.replace(chr(92), chr(92) * 2)}'"))
            .count()
            == 0
        )


def test_t12_pack_sequences_boundaries(spark):
    """api.pack_sequences: known token counts → known pack boundaries
    (concatenate-and-chunk: a row packs where its first token lands)."""
    from big_data_analytics_cse545_spark import api

    rows = [
        (1, "s", " ".join(["w"] * 300)),   # tokens 0-299    → pack 0
        (2, "s", " ".join(["w"] * 300)),   # starts at 300   → pack 0
        (3, "s", " ".join(["w"] * 100)),   # starts at 600   → pack 1
        (4, "t", " ".join(["w"] * 10)),    # own stream      → pack 0
    ]
    df = spark.createDataFrame(rows, "id long, src string, text string")
    got = {
        (r["src"], r["id"]): r["pack_id"]
        for r in api.pack_sequences(df, "text", "id", "src", max_len=512).collect()
    }
    assert got == {("s", 1): 0, ("s", 2): 0, ("s", 3): 1, ("t", 4): 0}


def test_t16_strips_all_markup_and_decodes_entities(spark):
    got = {
        r["file"]: r["text"]
        for r in text.t16_html_strip(spark, "unused").collect()
    }
    assert len(got) == text.N_HTML_FILES
    for fname, clean in got.items():
        # no tag residue, no script/style payloads, no undecoded entities
        assert "<" not in clean.replace("<tag>", "") or "<tag>" in clean
        assert "loadAds" not in clean and "margin" not in clean
        assert "&amp;" not in clean and "&quot;" not in clean
        assert 'fish & chips <tag> "quoted"' in clean
        assert "  " not in clean and clean == clean.strip()


def test_t17_chunks_overlap_and_cover(spark, sf_correctness):
    """Adjacent chunks overlap by W−S tokens and concatenating each
    chunk's fresh suffix reconstructs the document's token stream."""
    from big_data_analytics_cse545_spark.functions.text import tokens as tok_fn
    from big_data_analytics_cse545_spark.sources import load_table

    W, S = text.CHUNK_TOKENS, text.CHUNK_STRIDE
    chunks = text.t17_chunk_overlap(spark, sf_correctness).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    docs = {
        r["doc_id"]: r["toks"]
        for r in load_table(spark, sf_correctness, "documents")
        .select("doc_id", tok_fn(F.col("text")).alias("toks"))
        .collect()
    }
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        toks = docs[doc_id]
        rebuilt: list[str] = []
        for i, r in enumerate(rows):
            ctoks = r["chunk_text"].split(" ") if r["chunk_text"] else []
            assert len(ctoks) == r["n_chunk_tok"] <= W
            start = r["chunk_idx"] * S
            assert ctoks == toks[start : start + W]
            if i > 0 and len(ctoks) >= (W - S):
                prev = rows[i - 1]["chunk_text"].split(" ")
                assert prev[S:] == ctoks[: W - S], "overlap region must agree"
            rebuilt.extend(ctoks[len(rebuilt) - start :])
        assert rebuilt == toks, f"doc {doc_id} chunks must cover all tokens"


def test_canonical_url_rules(spark):
    """Rule-by-rule check of functions/url.py on literal messy URLs."""
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.functions.url import canonical_url

    cases = [
        # fragment dropped, scheme+host lowercased, :443 stripped, www
        # stripped, tracking params dropped, params sorted
        ("HTTPS://WWW.Ex.COM:443/A/b?z=1&utm_source=t&a=2#frag",
         "https://ex.com/A/b?a=2&z=1"),
        # http default port; ref + gclid dropped; no query survives
        ("http://ex.com:80/path/?ref=nav&gclid=g",
         "http://ex.com/path"),
        # non-default port preserved; path case preserved
        ("https://Ex.com:8443/Path", "https://ex.com:8443/Path"),
        # bare host → '/' path; fbclid dropped
        ("https://ex.com?fbclid=x", "https://ex.com/"),
        # trailing slashes collapsed; utm_campaign dropped, rest sorted
        ("https://ex.com/a///?utm_campaign=c&b=2&a=1",
         "https://ex.com/a?a=1&b=2"),
        # 'ref' only matches as a whole param name: 'referrer' survives
        ("https://ex.com/a?referrer=x", "https://ex.com/a?referrer=x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in
           df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_canonical_url_sql_twin_matches(spark):
    """sql_canonical_url must agree with the Spark column byte-for-byte
    on the same messy inputs (the t18 oracle contract)."""
    import duckdb
    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.functions.url import (
        canonical_url,
        sql_canonical_url,
    )

    urls = [
        "HTTPS://WWW.Ex.COM:443/A/b?z=1&utm_source=t&a=2#frag",
        "http://ex.com:80/path/?ref=nav&gclid=g",
        "https://Ex.com:8443/Path",
        "https://ex.com?fbclid=x",
        "https://ex.com/a///?utm_campaign=c&b=2&a=1",
        "https://ex.com/a?referrer=x&A=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    spark_out = [
        r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    con = duckdb.connect()
    duck_out = [
        con.execute(
            "WITH u AS (SELECT ?::VARCHAR AS url) "
            f"SELECT {sql_canonical_url('url')} AS c FROM u",
            [u],
        ).fetchone()[0]
        for u in urls
    ]
    assert spark_out == duck_out


def test_t19_composes_exactly_the_decomposed_docs(spark, sf_correctness):
    """Only the decomposed-suffix docs (doc_id % 3 == 0) change, each
    shrinking by exactly one codepoint (combining mark folded in); the
    precomposed docs (% 3 == 1) must already be byte-identical NFC."""
    from big_data_analytics_cse545_spark.operators import text as t

    rows = t.t19_unicode_normalize(spark, sf_correctness).collect()
    for r in rows:
        if r["doc_id"] % 3 == 0:
            assert r["changed"] and r["n_raw"] - r["n_norm"] == 1
        else:
            assert not r["changed"] and r["n_raw"] == r["n_norm"]


def test_t20_matches_pure_python_bpe_counts(spark, sf_smoke):
    """Golden check: the top merge candidates equal a pure-Python BPE
    pair count over the same tokenization."""
    import re
    from collections import Counter

    from big_data_analytics_cse545_spark.sources import load_table

    wf: Counter = Counter()
    for r in load_table(spark, sf_smoke, "documents").select("text").collect():
        for w in re.split(r"[^a-z0-9]+", r["text"].lower()):
            if w:
                wf[w] += 1
    pc: Counter = Counter()
    for w, f in wf.items():
        for i in range(len(w) - 1):
            pc[w[i : i + 2]] += f
    exp = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[: text.BPE_TOP_PAIRS]
    got = [
        (r["pair"], r["pair_count"])
        for r in text.t20_bpe_pair_stats(spark, sf_smoke).orderBy("rk").collect()
    ]
    assert got == exp


def _pure_python_bpe(word_freqs, n_merges):
    """Reference BPE trainer (Sennrich alg. 1): overlapping pair counts
    weighted by word frequency; argmax with (count desc, left, right)
    tie-break; greedy left-to-right non-overlapping merge application."""
    vocab = {w: list(w) for w in word_freqs}
    merges = []
    for step in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for w, f in word_freqs.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + f
        if not pc:
            break
        (left, right), cnt = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((step, left, right, left + right, cnt))
        for w, s in vocab.items():
            out: list[str] = []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            vocab[w] = out
    return merges


def test_t24_matches_pure_python_bpe_trainer(spark, sf_smoke):
    """Golden gate (t24 is rows-only by design — iterative
    argmax-dependent rewrites have no SQL twin): the FULL learned merge
    table must equal a from-scratch pure-Python BPE trainer over the
    same tokenization, merge for merge — order, symbols, and counts."""
    import re
    from collections import Counter

    from big_data_analytics_cse545_spark.sources import load_table

    wf: Counter = Counter()
    for r in load_table(spark, sf_smoke, "documents").select("text").collect():
        for w in re.split(r"[^a-z0-9]+", r["text"].lower()):
            if w:
                wf[w] += 1
    exp = _pure_python_bpe(wf, text.BPE_TRAIN_MERGES)
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in text.t24_bpe_train(spark, sf_smoke).orderBy("step").collect()
    ]
    assert len(got) == text.BPE_TRAIN_MERGES
    assert got == exp


def _pure_python_bpe_batched(word_freqs, n_merges, batch_m):
    """Reference BATCHED BPE trainer mirroring train_bpe's batch
    semantics exactly: per round, count pairs once, select the top
    batch_m pairwise-symbol-disjoint pairs (left, right AND merged) of
    the (count desc, left, right)-sorted list — skipping conflicting
    candidates within the SAME over-collected window train_bpe uses —
    and apply all selected merges in one greedy left-to-right pass."""
    vocab = {w: list(w) for w in word_freqs}
    merges = []
    while len(merges) < n_merges:
        want = min(batch_m, n_merges - len(merges))
        n_candidates = want if want == 1 else want * 4 + 8
        pc: dict[tuple[str, str], int] = {}
        for w, f in word_freqs.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] = pc.get((s[i], s[i + 1]), 0) + f
        if not pc:
            break
        ranked = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        used: set[str] = set()
        rules: dict[tuple[str, str], str] = {}
        for (left, right), cnt in ranked[:n_candidates]:
            if {left, right, left + right} & used:
                continue
            merges.append((len(merges) + 1, left, right, left + right, cnt))
            rules[(left, right)] = left + right
            used |= {left, right, left + right}
            if len(rules) == want:
                break
        for w, s in vocab.items():
            out: list[str] = []
            for x in s:
                if out and (out[-1], x) in rules:
                    out[-1] = rules[(out[-1], x)]
                else:
                    out.append(x)
            vocab[w] = out
    return merges


def test_train_bpe_batched_matches_pure_python_reference(spark, sf_smoke):
    """The batched trainer (batch_m>1, the 30k-merge scale path) must
    reproduce the pure-Python batched reference merge-for-merge; the
    reference itself must degenerate to sequential Sennrich BPE at
    batch_m=1 (validating the reference before trusting it); and the
    Spark batch_m=1 path must equal the sequential golden — so batching
    is proven to change ONLY the round granularity, never the
    single-merge semantics.

    n=32 is load-bearing beyond coverage: it doubles as the
    plan-truncation canary — without train_bpe's per-round
    localCheckpoint the logical plan grows a fold level per round and
    optimizer re-inlining made 32 merges take 54.6s (vs ~4s) en route
    to OOM at 64+, so a lost truncation shows up here as a
    conspicuous suite slowdown long before the driver bench."""
    import re
    from collections import Counter

    from big_data_analytics_cse545_spark.sources import load_table

    wf: Counter = Counter()
    for r in load_table(spark, sf_smoke, "documents").select("text").collect():
        for w in re.split(r"[^a-z0-9]+", r["text"].lower()):
            if w:
                wf[w] += 1
    n = 32
    assert _pure_python_bpe_batched(wf, n, 1) == _pure_python_bpe(wf, n)
    for m in (4, 8):
        exp = _pure_python_bpe_batched(wf, n, m)
        got = [
            (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
            for r in text.train_bpe(
                load_table(spark, sf_smoke, "documents"), n_merges=n, batch_m=m
            )
            .orderBy("step")
            .collect()
        ]
        assert got == exp, f"batch_m={m}"


def test_train_bpe_releases_all_checkpoint_blocks(spark, sf_smoke):
    """Round-10 ADVICE pin: train_bpe's per-round localCheckpoint block
    sets are freed DETERMINISTICALLY (release-one-behind via the
    LogicalRDD handle, plus the final dictionary before returning), so
    a long-lived driver calling api.bpe_train repeatedly holds no
    block-set float waiting on GC. After the call returns, the session
    must hold exactly the persisted RDDs it held before it."""
    from big_data_analytics_cse545_spark.sources import load_table

    sc = spark.sparkContext
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    table = text.train_bpe(
        load_table(spark, sf_smoke, "documents"), n_merges=8, batch_m=4
    ).collect()
    assert table  # the loop actually ran (checkpoints were created)
    after = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    leaked = after - before
    assert not leaked, (
        f"train_bpe left {len(leaked)} persisted RDD block sets behind "
        f"(ids {sorted(leaked)}) — the deterministic unpersist regressed "
        "to the GC-dependent path"
    )


def test_t24_first_merge_agrees_with_t20(spark, sf_smoke):
    """Consistency between the one-step operator and the trainer: t24's
    step-1 pair must be t20's rank-1 pair with the same count (t20
    counts pairs as 2-char substrings, which at step 1 — all symbols
    single characters — is the same statistic)."""
    first = text.t24_bpe_train(spark, sf_smoke).orderBy("step").first()
    top = text.t20_bpe_pair_stats(spark, sf_smoke).orderBy("rk").first()
    assert first["left"] + first["right"] == top["pair"]
    assert first["pair_count"] == top["pair_count"]


def test_t21_bm25_bounds(spark, sf_correctness):
    """Per-doc hit count is bounded by the dictionary size; scores of
    matching docs are positive (every idf > 0 because df < N/2 here),
    and every scored doc actually contains a query term."""
    rows = text.t21_bm25_score(spark, sf_correctness).collect()
    assert rows, "query terms must match some documents"
    assert all(1 <= r["n_terms_hit"] <= len(text.TERM_DICT) for r in rows)
    assert all(r["bm25_micro"] > 0 for r in rows)


def test_t22_bucket_matches_thresholds(spark, sf_correctness):
    """ppl_bucket must be a pure function of (sum_nll_micro, n_tok) —
    recomputed row-by-row — and every document gets scored."""
    rows = text.t22_unigram_nll(spark, sf_correctness).collect()
    assert len(rows) == 500  # sf0.01 documents with ≥1 token
    for r in rows:
        if r["sum_nll_micro"] < text.PPL_HEAD_MICRO * r["n_tok"]:
            exp = "head"
        elif r["sum_nll_micro"] < text.PPL_MIDDLE_MICRO * r["n_tok"]:
            exp = "middle"
        else:
            exp = "tail"
        assert r["ppl_bucket"] == exp, r
    assert {r["ppl_bucket"] for r in rows} >= {"head", "middle"}, (
        "thresholds should split the corpus into at least two buckets"
    )


def test_t23_verdicts_are_pure_functions_of_stats(spark, sf_correctness):
    """Each host's verdict must be recomputable row-by-row from its own
    (n_docs, junk_docs), and the fixture must exercise ALL THREE verdicts
    — a reputation filter that never fires is untested."""
    rows = text.t23_host_reputation(spark, sf_correctness).collect()
    assert len(rows) == 140  # 20 sources × 7 derived hosts
    for r in rows:
        if r["n_docs"] < text.T23_MIN_SUPPORT:
            exp = "low_support"
        elif r["junk_docs"] * 4 >= r["n_docs"]:
            exp = "junky"
        else:
            exp = "keep"
        assert r["verdict"] == exp, r
        assert 0 <= r["junk_docs"] <= r["n_docs"]
        assert r["mean_chars_x100"] > 0
    assert {r["verdict"] for r in rows} == {"keep", "junky", "low_support"}


def test_pathological_documents_do_not_crash_or_diverge(spark, tmp_path):
    """Round-5 --edge sweep pins: an empty page, a whitespace-only page,
    and a single-token page are normal crawl states — under ANSI mode
    one of them used to throw DIVIDE_BY_ZERO through t05/t06/x04/x08
    and kill the whole job. try_divide/coalesce now state the zero-token
    semantics explicitly (NULL metrics -> 'other'/NULL bucket/score 0)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_analytics_cse545_spark.operators import sampling, text

    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "edge_sf")
    os.makedirs(d)
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "documents.parquet":
            shutil.copy(os.path.join(src, f), os.path.join(d, f))
    t = pq.read_table(os.path.join(src, "documents.parquet"))
    maxid = max(t.column("doc_id").to_pylist())
    extra = {
        "doc_id": [maxid + 1, maxid + 2, maxid + 3],
        "text": ["", "   \t  \n ", "word"],
        "lang": ["en"] * 3,
        "source": ["edge"] * 3,
        "n_chars": [0, 8, 4],
    }
    et = pa.table({k: pa.array(v, t.schema.field(k).type) for k, v in extra.items()})
    pq.write_table(
        pa.concat_tables([t, et.select(t.schema.names)]),
        os.path.join(d, "documents.parquet"),
    )
    # all four formerly-crashing queries run; empty/whitespace docs land
    # in the defined buckets
    t05 = {(r["lang"], r["guess"]): r["n_docs"] for r in text.t05_lang_guess(spark, d).collect()}
    assert sum(n for (lang, g), n in t05.items() if g == "other" and lang == "en") >= 2
    assert text.t06_quality_score(spark, d).count() > 0
    x04 = sampling.x04_token_budget_select(spark, d).collect()
    assert all(r["score"] is not None for r in x04)
    assert sampling.x08_prep_pipeline(spark, d).count() >= 0
    # t13's repetition metrics are NULL (not NaN, not a crash) for the
    # zero-token docs
    t13 = {r["doc_id"]: r for r in text.t13_repetition_filter(spark, d).collect()}
    for eid in (maxid + 1, maxid + 2):
        assert t13[eid]["dup_token_frac"] is None


def test_folded_text_kernels_match_twins_on_empty_and_null_text(spark, sf_smoke, tmp_path):
    """t06/t12/t17 run through api.quality_score / pack_sequences /
    chunk_documents; their DuckDB twins must still agree on documents
    with empty and NULL text (none exist in the generated fixtures)."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = sf_smoke
    d = str(tmp_path / "null_text_sf")
    os.makedirs(d)
    for f in os.listdir(src):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(src, f), os.path.join(d, f))
    t = pq.read_table(os.path.join(src, "documents.parquet"))
    ids = t.column("doc_id").to_numpy()
    txt = t.column("text").combine_chunks()
    txt = pc.if_else(pa.array(ids % 7 == 3), pa.scalar(None, pa.string()), txt)
    txt = pc.if_else(pa.array(ids % 7 == 5), pa.scalar("", pa.string()), txt)
    t = t.set_column(t.schema.get_field_index("text"), "text", txt)
    pq.write_table(t, os.path.join(d, "documents.parquet"))
    assert t.column("text").null_count > 0
    for name in ("t06_quality_score", "t12_pack_sequences", "t17_chunk_overlap"):
        assert_parity(text.QUERIES[name](spark, d), text.ORACLE[name], d, name)


def test_turkish_dotted_i_is_a_known_cross_engine_casing_difference(spark):
    """Pinned engine difference (round-5 --unicode probe): lowercasing
    U+0130 (LATIN CAPITAL LETTER I WITH DOT ABOVE) follows Unicode
    SpecialCasing in the JVM — 'i' + U+0307 COMBINING DOT ABOVE — so the
    ASCII tokenizer splits at the combining mark; DuckDB's utf8proc uses
    the simple one-codepoint mapping ('i') and does not split. Every
    other probed script (CJK, emoji, Greek, NFD combining marks, sharp-s,
    exotic whitespace) tokenizes identically on both engines. If an
    İ-bearing corpus must hash-match an oracle, NFC/casefold upstream
    (t19) or strip U+0307 on both sides."""
    import duckdb

    from pyspark.sql import functions as F

    from big_data_analytics_cse545_spark.functions.text import tokens

    df = spark.createDataFrame([("İstanbul",)], "text string")
    spark_toks = df.select(tokens(F.col("text")).alias("ts")).collect()[0]["ts"]
    assert spark_toks == ["i", "stanbul"], spark_toks  # SpecialCasing split
    duck_toks = duckdb.connect().execute(
        "SELECT list_filter(string_split_regex(lower('İstanbul'), '[^a-z0-9]+'),"
        " t -> t <> '')"
    ).fetchone()[0]
    assert duck_toks == ["istanbul"], duck_toks  # simple-mapping, no split


# ---------------------------------------------------------------------------
# t25 — BPE encode (test-gated: golden + regime parity, the t24 pattern)
# ---------------------------------------------------------------------------


def _pure_python_encode(textval, rules):
    """Independent reference encoder: trainer tokenization, then each
    merge rule in training order as one left-to-right non-overlapping
    greedy pass (Sennrich's apply loop). Written from the algorithm,
    not from the engine code — the golden must not share its bugs."""
    import re

    toks = []
    for w in re.split(r"[^a-z0-9]+", ("" if textval is None else textval).lower()):
        if not w:
            continue
        syms = list(w)
        for left, right, merged in rules:
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = merged
                else:
                    out.append(s)
            syms = out
        toks.extend(syms)
    return toks


def test_t25_encode_matches_pure_python_token_for_token(spark, sf_smoke):
    """Golden gate (t25 is test-gated by design — its merge table is
    the output of the non-SQL-expressible trainer): every document's
    token array from the pure-JVM expr regime must equal the
    independent pure-Python encoder token for token, merges must
    actually fire (multi-char tokens exist), and encoding must
    conserve characters (concat(tokens) == concat(word chars))."""
    import re

    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_smoke, "documents")
    table = text.train_bpe(d)
    rules = [
        (r["left"], r["right"], r["merged"])
        for r in table.orderBy("step").collect()
    ]
    assert len(rules) == text.BPE_TRAIN_MERGES
    got = {
        r["doc_id"]: r["toks"]
        for r in text.bpe_encode(d, table, mode="expr")
        .select("doc_id", "toks")
        .collect()
    }
    src = {r["doc_id"]: r["text"] for r in d.select("doc_id", "text").collect()}
    assert set(got) == set(src) and len(got) >= 100
    for did, txt in src.items():
        assert got[did] == _pure_python_encode(txt, rules), f"doc {did}"
    assert any(len(t) > 1 for ts in got.values() for t in ts), (
        "no merge ever fired — the golden compared a no-op"
    )
    for did, txt in src.items():
        chars = "".join(w for w in re.split(r"[^a-z0-9]+", txt.lower()) if w)
        assert "".join(got[did]) == chars, f"doc {did} lost/created chars"


def test_t25_execution_regimes_agree_exactly(spark, sf_smoke):
    """expr (chained JVM folds) and arrow (mapInPandas + word memo)
    are two implementations of ONE contract: token arrays must be
    identical for every document, including a NULL-text row (both
    regimes encode it to an empty array, not NULL/crash)."""
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    d = d.unionByName(
        spark.createDataFrame([(10**9, None)], "doc_id long, text string")
    )
    table = text.train_bpe(d)
    a = {
        r["doc_id"]: r["toks"]
        for r in text.bpe_encode(d, table, mode="expr").collect()
    }
    b = {
        r["doc_id"]: r["toks"]
        for r in text.bpe_encode(d, table, mode="arrow").collect()
    }
    assert a == b
    assert a[10**9] == []


def test_t25_expr_cap_and_auto_mode(spark, sf_smoke):
    """The expr regime refuses tables past BPE_EXPR_MAX_RULES (plan
    depth grows one fold per rule — the t24 nested-plan lesson), and
    auto mode silently selects the arrow regime instead. Disjoint
    synthetic rules so the arrow path still encodes correctly."""
    from big_data_analytics_cse545_spark.sources import load_table

    n = text.BPE_EXPR_MAX_RULES + 1
    fake = spark.createDataFrame(
        [(i + 1, f"q{i}x", "z") for i in range(n)],
        "step long, left string, right string",
    )
    d = load_table(spark, sf_smoke, "documents").limit(5)
    with pytest.raises(ValueError, match="caps at"):
        text.bpe_encode(d, fake, mode="expr")
    out = text.bpe_encode(d, fake, mode="auto").select("toks").collect()
    assert len(out) == 5 and all(r["toks"] for r in out)
    with pytest.raises(ValueError, match="mode must be"):
        text.bpe_encode(d, fake, mode="jvm")


def test_t25_registry_output_contract(spark, sf_smoke):
    """The registry query's (n_tokens, tokens_md5) must be derivable
    from the token arrays the encode itself produces — the hash
    certifies every token byte-for-byte (the t11 md5-of-scrubbed
    pattern), so a count-preserving token corruption cannot pass."""
    import hashlib

    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_smoke, "documents")
    table = text.train_bpe(d)
    toks = {
        r["doc_id"]: r["toks"]
        for r in text.bpe_encode(d, table, mode="expr")
        .select("doc_id", "toks")
        .collect()
    }
    out = text.t25_bpe_encode(spark, sf_smoke).collect()
    assert [r["doc_id"] for r in out] == sorted(toks)
    for r in out:
        ts = toks[r["doc_id"]]
        assert r["n_tokens"] == len(ts)
        assert r["tokens_md5"] == hashlib.md5(
            "\x1f".join(ts).encode()
        ).hexdigest()


def test_bpe_decode_round_trip_both_regimes(spark, sf_smoke):
    """decode(encode(x, emit='ids')) == encode(x, emit='tokens')
    token-for-token in BOTH regimes — the id space inverts exactly,
    including the NULL-text row (empty ids → empty decode) and
    character conservation through the full round trip."""
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    d = d.unionByName(
        spark.createDataFrame([(10**9, None)], "doc_id long, text string")
    )
    table = text.train_bpe(d)
    want = {
        r["doc_id"]: r["toks"]
        for r in text.bpe_encode(d, table, mode="expr").collect()
    }
    ids = text.bpe_encode(d, table, mode="expr", emit="ids")
    for mode in ("expr", "arrow"):
        got = {
            r["doc_id"]: r["decoded"]
            for r in text.bpe_decode(ids, table, ids_col="toks", mode=mode).collect()
        }
        assert got == want, f"round trip broke in {mode}"
    assert want[10**9] == []


def test_bpe_decode_oov_id_is_loud(spark, sf_smoke):
    """An id outside the vocabulary must raise in BOTH regimes — a
    silent NULL token would corrupt a reconstruction."""
    fake = spark.createDataFrame(
        [(1, "ab", "c")], "step long, left string, right string"
    )
    bad = spark.createDataFrame([(1, [999999])], "doc_id long, toks array<bigint>")
    for mode in ("expr", "arrow"):
        with pytest.raises(Exception, match="not in vocabulary"):
            text.bpe_decode(bad, fake, mode=mode).collect()


def test_bpe_encode_out_col_collision_regimes_agree(spark, sf_smoke):
    """Round-11 ADVICE: when out_col collides with an existing input
    column, the arrow regime used to APPEND a duplicate field while
    expr replaced in place. Both regimes must now produce the same
    schema (replace, withColumn semantics) and the same values."""
    from big_data_analytics_cse545_spark.sources import load_table

    d = (
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", "text")
        .limit(20)
        .withColumn("toks", F.lit("placeholder"))
    )
    table = text.train_bpe(d)
    a = text.bpe_encode(d, table, mode="expr")
    b = text.bpe_encode(d, table, mode="arrow")
    assert [f.name for f in a.schema.fields] == [f.name for f in b.schema.fields]
    assert len([f for f in b.schema.fields if f.name == "toks"]) == 1
    av = {r["doc_id"]: r["toks"] for r in a.collect()}
    bv = {r["doc_id"]: r["toks"] for r in b.collect()}
    assert av == bv and all(isinstance(v, list) for v in av.values())


def test_api_bpe_decode_matches_operator(spark, sf_smoke):
    from big_data_analytics_cse545_spark import api as api_mod
    from big_data_analytics_cse545_spark.sources import load_table

    d = load_table(spark, sf_smoke, "documents").limit(30)
    table = api_mod.bpe_train(d, "text", n_merges=8)
    ids = api_mod.bpe_encode(d, table, emit="ids")
    got = {
        r["doc_id"]: r["decoded"]
        for r in api_mod.bpe_decode(ids, table).collect()
    }
    want = {
        r["doc_id"]: r["toks"]
        for r in api_mod.bpe_encode(d, table).collect()
    }
    assert got == want


def test_t25_cache_rekeys_on_trainer_identity(spark, sf_smoke, monkeypatch):
    """Round-12 review: the train-once fixture cache must key on the
    TRAINER's identity, not just the corpus digest — bumping the apply
    version (the semantics-change discipline) must mint a NEW cache
    dir rather than serve the previous hyperparameters' table."""
    import glob
    import tempfile

    text._t25_table(spark, sf_smoke)
    tmp = tempfile.gettempdir()
    v = text.BPE_APPLY_VERSION
    assert any(
        f"-apply{v}-" in d
        for d in glob.glob(f"{tmp}/graft-bpe-m{text.BPE_TRAIN_MERGES}-apply*")
    )
    monkeypatch.setattr(text, "BPE_APPLY_VERSION", v + 1000)
    text._t25_table(spark, sf_smoke)
    # distinct trainer identity → distinct cache dir (both coexist:
    # the prune prefix includes the version, so neither evicts the
    # other; cache dirs persist across test runs, so assert presence,
    # not set difference)
    assert any(
        f"-apply{v + 1000}-" in d
        for d in glob.glob(f"{tmp}/graft-bpe-m{text.BPE_TRAIN_MERGES}-apply*")
    )
