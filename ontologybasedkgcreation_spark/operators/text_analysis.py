"""Text-analysis operators: token stats, PII redaction,
boilerplate and repetition signals, URL and sampling plans.  All pure
``pyspark.sql.functions`` — whole-stage codegen, zero Python.  These run
ahead of KG extraction in a web-scale ingest (the ``lang_id`` driver
query scores documents against ``EN_STOPWORDS``)."""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EN_STOPWORDS = [
    "the", "a", "an", "of", "and", "to", "in", "that", "it", "is", "was",
    "for", "on", "with", "as", "by", "at", "from",
]


def _tokens(text_col: str):
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace + BPE-ish token counts per document.  The BPE-ish count is
    the standard chars/4 upper bound refined by a word/punct regex — a
    deterministic proxy for tokenizer load estimation."""
    toks = _tokens(text_col)
    bpe_ish = F.size(
        F.filter(
            F.split(F.col(text_col), r"(?=[^\w])|(?<=[^\w])"),
            lambda t: F.trim(t) != "",
        )
    )
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_ws_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        bpe_ish.alias("n_bpeish_tokens"),
    )


# PII patterns chosen to evaluate identically under Java regex (Spark) and
# RE2 (DuckDB oracle): ASCII classes, \b boundaries, greedy quantifiers,
# no lookarounds/backrefs (RE2 has neither).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+\d[\d().\-\s]{6,}\d"


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Training-data PII scrub: emails, IPv4 addresses and +international
    phone numbers replaced by typed placeholders, with per-type counts —
    (id, redacted, n_emails, n_ips, n_phones).

    Counts are taken STAGE-BY-STAGE on the progressively redacted text
    (emails first, then IPs on the email-redacted text, then phones) so
    the semantics are order-unambiguous and an oracle can replay them
    replace-for-replace.  Pure ``regexp_replace``/``regexp_extract_all``
    — whole-stage codegen, zero Python, trivially partition-parallel at
    100 TB.  A production deployment widens the pattern set (names/NER
    need a model); the column contract stays fixed."""
    t0 = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t0, F.lit(PII_EMAIL), F.lit(0)))
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(t1, F.lit(PII_IPV4), F.lit(0)))
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE), F.lit(0)))
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col),
        t3.alias("redacted"),
        n_emails.cast("long").alias("n_emails"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
    )


# a line repeated in this many distinct documents of a group is boilerplate
BOILERPLATE_MIN_DOCS = 3


def strip_boilerplate(
    df: DataFrame, id_col: str, text_col: str, group_col: str
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb web-pipeline
    step): a non-empty line whose normalized hash appears in >=
    BOILERPLATE_MIN_DOCS DISTINCT documents of the same group (site/domain/source) is
    boilerplate — navigation, cookie banners, copyright footers — and is
    stripped; content lines are unique-ish and survive.  Returns
    (id, clean_text, n_boilerplate_lines) with line order preserved.

    Scale shape: one line explode, one map-side-combinable
    (group, line_hash) distinct-doc count, one join back on that key, one
    reassembly groupBy — no driver state, no per-row Python; the
    boilerplate table is per-group bounded (distinct repeated lines
    only), so AQE picks broadcast when a group's boilerplate set is
    small.  At 100 TB partition the line frame by the group key: the
    count and the join then reuse one exchange."""
    lines = df.select(
        F.col(id_col),
        F.col(group_col).alias("_grp"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_h", F.md5(F.lower(F.trim(F.col("_line")))))
    boiler = (
        lines.filter(F.trim(F.col("_line")) != "")
        .groupBy("_grp", "_h")
        .agg(F.countDistinct(id_col).alias("_ndocs"))
        .filter(F.col("_ndocs") >= BOILERPLATE_MIN_DOCS)
        .select("_grp", "_h", F.lit(1).alias("_b"))
    )
    marked = lines.join(boiler, ["_grp", "_h"], "left")
    kept = F.filter(
        F.array_sort(F.collect_list(F.struct("_pos", "_b", "_line"))),
        lambda s: s["_b"].isNull(),
    )
    cleaned = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(kept, lambda s: s["_line"]), "\n"
        ).alias("clean_text"),
        F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_boilerplate_lines"),
    )
    # NULL-text docs produce no exploded lines (split(NULL) -> NULL,
    # posexplode emits nothing) and would silently vanish from the output;
    # left-join back to the full id set so every input doc appears, with
    # the same ''/0 defaults redact_pii-style passthrough ops use.
    return (
        df.select(id_col)
        .join(cleaned, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_boilerplate_lines"), F.lit(0))
            .cast("long")
            .alias("n_boilerplate_lines"),
        )
    )


# the word n-gram sizes of repetition_signals' top- and duplicate-gram
# branches (Gopher's 2-gram coverage and its 5-gram duplication floor)
TOP_NGRAM = 2
DUP_NGRAM = 5


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, table A1) — the
    document-level repetition family that catches boilerplate-ish and
    degenerate pages before training:

    - ``dup_line_frac``: fraction of non-empty lines that are repeats of
      an earlier line (occurrences beyond the first / total lines);
    - ``dup_line_char_frac``: same, weighted by line characters;
    - ``top_ngram_char_frac``: characters covered by the single most
      frequent word ``TOP_NGRAM``-gram / total token characters (ties
      broken to the lexicographically greatest gram — deterministic);
    - ``dup_ngram_frac``: fraction of word ``DUP_NGRAM``-gram occurrences
      that are duplicates.

    All four are exact deterministic variants of the published signals
    (the paper's 5-10-gram char-coverage union is order-dependent; the
    occurrence fraction here is the order-free equivalent), plus ``keep``
    at the paper's thresholds (0.30 / 0.20 / 0.15, parameter-free here —
    callers re-derive with their own cuts from the returned fractions).

    Scale shape: three explode->groupBy(id, key) branches joined back on
    the id — every aggregation is map-side combinable and keyed by the
    document id (one exchange per branch, no cross-document state, no
    Python).  N-grams are built with one array ``transform`` per row
    (vocabulary-independent), never a self-join."""
    toks = _tokens(text_col)
    base = df.select(F.col(id_col), F.col(text_col), toks.alias("_t"))

    # --- line branch ------------------------------------------------
    lines = base.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("_line"),
    ).filter(F.trim("_line") != "")
    per_line = lines.groupBy(id_col, "_line").agg(
        F.count("*").alias("_c"), F.first(F.length("_line")).alias("_len")
    )
    line_stats = per_line.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_lines"),
        (
            (F.sum("_c") - F.count("*")).cast("double")
            / F.sum("_c").cast("double")
        ).alias("_dlf"),
        (
            F.sum((F.col("_c") - 1) * F.col("_len")).cast("double")
            / F.sum(F.col("_c") * F.col("_len")).cast("double")
        ).alias("_dlcf"),
    )

    # --- top n-gram branch -------------------------------------------
    def _grams(n: int):
        # transform(sequence(1, size-n+1), i -> concat_ws(' ', slice(t,i,n)))
        # guarded: sequence(1, 0) in Spark DESCENDS ([1, 0]) and slice's
        # 1-based start rejects 0, so short docs get an explicit empty array
        return F.expr(
            f"case when size(_t) >= {n} then "
            f"transform(sequence(1, size(_t) - {n - 1}), "
            f"i -> concat_ws(' ', slice(_t, i, {n}))) "
            f"else array() end"
        )

    top = (
        base.select(F.col(id_col), F.explode(_grams(TOP_NGRAM)).alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(F.max(F.struct("_c", "_g")).alias("_m"))
        .select(
            F.col(id_col),
            (
                F.col("_m._c")
                * (F.length("_m._g") - F.lit(TOP_NGRAM - 1))
            ).alias("_topchars"),
        )
    )

    # --- duplicate n-gram branch ---------------------------------------
    dup = (
        base.select(F.col(id_col), F.explode(_grams(DUP_NGRAM)).alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(
            (
                (F.sum("_c") - F.count("*")).cast("double")
                / F.sum("_c").cast("double")
            ).alias("_dnf")
        )
    )

    token_chars = F.length(
        F.regexp_replace(F.col(text_col), r"\s", "")
    ).cast("double")
    out = (
        base.select(F.col(id_col), token_chars.alias("_tc"))
        .join(line_stats, id_col, "left")
        .join(top, id_col, "left")
        .join(dup, id_col, "left")
    )
    dlf = F.coalesce(F.col("_dlf"), F.lit(0.0))
    dlcf = F.coalesce(F.col("_dlcf"), F.lit(0.0))
    tncf = F.coalesce(
        F.col("_topchars").cast("double") / F.greatest("_tc", F.lit(1.0)),
        F.lit(0.0),
    )
    dnf = F.coalesce(F.col("_dnf"), F.lit(0.0))
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("n_lines"), F.lit(0).cast("long")).alias("n_lines"),
        F.round(dlf, 9).alias("dup_line_frac"),
        F.round(dlcf, 9).alias("dup_line_char_frac"),
        F.round(tncf, 9).alias("top_ngram_char_frac"),
        F.round(dnf, 9).alias("dup_ngram_frac"),
        (
            (dlf <= 0.30) & (dlcf <= 0.20) & (tncf <= 0.20) & (dnf <= 0.15)
        )
        .cast("long")
        .alias("keep"),
    )


# unigram_logprob's count floor: rarer train tokens score as unseen
UNIGRAM_MIN_COUNT = 2


def unigram_logprob(
    train: DataFrame, score: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus-trained unigram LM quality score — the deterministic analog
    of CCNet's KenLM perplexity filter (Wenzek et al. 2020): documents
    whose token distribution diverges from the reference corpus score a
    high average negative log-probability and get bucketed/dropped.

    Model: ``p(t) = c_t / N`` over ``train``'s whitespace tokens with a
    ``UNIGRAM_MIN_COUNT`` floor; rarer/unseen tokens score as count 1 (the
    classic +1-style floor).  Returns per ``score`` document
    ``(id, n_tokens, n_oov, avg_neg_logprob)`` — lower is more
    corpus-typical; ``avg_neg_logprob`` is rounded to 7 decimals (float
    sums are order-dependent across engines; ~1e-13 accumulation error
    vs a 1e-7 grid).

    Scale shape: the count table is vocabulary-sized and token-keyed
    (map-side combinable groupBy; AQE broadcasts the join when the vocab
    is small), the corpus total rides as a LAZY 1-row broadcast
    cross-join (no driver action — the pagerank discipline), and scoring
    is one explode + one hash join + one map-side-combinable groupBy on
    the document id."""
    tt = train.select(F.explode(_tokens(text_col)).alias("t"))
    cnt = (
        tt.groupBy("t")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= UNIGRAM_MIN_COUNT)
    )
    tot = tt.agg(F.count("*").alias("n"))
    st = score.select(F.col(id_col), F.explode(_tokens(text_col)).alias("t"))
    j = st.join(cnt, "t", "left").crossJoin(F.broadcast(tot))
    logp = F.log(
        F.coalesce(F.col("c"), F.lit(1)).cast("double")
        / F.col("n").cast("double")
    )
    per = j.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.round(-F.avg(logp), 7).alias("avg_neg_logprob"),
    )
    return (
        score.select(F.col(id_col))
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0).cast("long")).alias("n_oov"),
            F.coalesce("avg_neg_logprob", F.lit(0.0)).alias(
                "avg_neg_logprob"
            ),
        )
    )


# optional value: bare '?fbclid' / 'utm_source' (valueless tracking
# params) must strip too, or otherwise-identical URLs stay distinct
TRACKING_PARAM_RE = r"^(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref)(=|$)"


def canonicalize_urls(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """URL canonicalization — the Common-Crawl-pipeline dedup key step.
    Two requests that differ only in case, default port, ``www.``,
    fragment, tracking parameters, or query-parameter order are the same
    resource; canonicalizing before exact/near dedup collapses them.

    Rules (each deterministic, all pure string built-ins — whole-stage
    codegen, embarrassingly partition-parallel):
    scheme+host lowercased; leading ``www.`` stripped; default ports
    (``:80`` http, ``:443`` https) stripped; empty path becomes ``/``;
    fragment dropped; tracking params (``utm_*``/fbclid/gclid/msclkid/
    ref, with or without a value) dropped; surviving params sorted
    bytewise.  Returns
    (id, canon_url, host, domain, path, n_params, n_tracking) where
    ``domain`` is the PSL registrable domain (public suffix + one
    label, full exception/wildcard semantics — see ``psl.py``; point
    ``ONTOKG_PSL_PATH`` at a full ``public_suffix_list.dat`` to swap
    the vendored subset for the complete list)."""
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host_port = F.lower(F.regexp_extract(u, r"^[^:]+://([^/?#]+)", 1))
    host = F.when(
        scheme == "http", F.regexp_replace(host_port, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(host_port, ":443$", "")
    ).otherwise(host_port)
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(u, r"^[^:]+://[^/?#]+([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(F.split(query, "&"), lambda p: p != "")
    kept = F.array_sort(
        F.filter(params, lambda p: ~p.rlike(TRACKING_PARAM_RE))
    )
    canon_q = F.array_join(kept, "&")
    from .psl import registrable_domain_expr

    domain = registrable_domain_expr(host)
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(
            F.lit("")
        ),
    )
    return df.select(
        F.col(id_col),
        canon.alias("canon_url"),
        host.alias("host"),
        domain.alias("domain"),
        path.alias("path"),
        F.size(kept).cast("long").alias("n_params"),
        (F.size(params) - F.size(kept)).cast("long").alias("n_tracking"),
    )


# the URL schemes filter_urls lets through
# filter_urls' blocklist: schemes kept, blocked domains, blocked path regexes
ALLOW_SCHEMES = ("http", "https")
BLOCK_DOMAINS = ("example.co.uk",)
BLOCK_PATH_RES = (r"^/ads/",)


def filter_urls(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """URL-level filtering — the blocklist step every Common-Crawl pipeline
    runs before fetch-dedup (UT1/adult blocklists, link farms, non-HTTP
    schemes).  A URL is blocked when its PSL registrable domain is in
    ``BLOCK_DOMAINS`` (so ``evil.example`` blocks every subdomain host but
    never a lookalike suffix match — the reason substring blocklists
    misfire), when any ``BLOCK_PATH_RES`` regex matches its path+query, or
    when its scheme is not in ``ALLOW_SCHEMES``.

    Returns (id, canon-parsed host/domain/path, blocked 0/1, block_reason)
    — callers filter ``blocked = 0``; keeping the column (instead of
    dropping rows) preserves the audit trail the curation report needs.

    ``BLOCK_DOMAINS`` entries are normalized at call time with the SAME
    PSL algorithm the column compiles to: a registrable-level entry
    (``evil.example``) matches on the ``domain`` column (all subdomains,
    no lookalikes); an entry DEEPER than its registrable domain
    (``bad.blogspot.com`` — host-level, common in real UT1 lists) or one
    that is itself a public suffix (``co.uk``) blocks the host SUBTREE
    (exact host or any ``*.entry``) — without the normalization such
    entries would silently never match.

    Scale shape: pure string built-ins + the PSL InSet chain (whole-stage
    codegen, partition-parallel, zero shuffles); blocklists of real size
    (UT1 is ~4M domains) swap the literal isin for a broadcast semi-join
    on the same ``domain``/``host`` columns — the column contract is the
    point."""
    from .psl import (
        registrable_domain_expr,
        registrable_domain_py,
        suffix_len_py,
    )

    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    # host = authority minus userinfo/port (split before the PSL match;
    # the :port strip is numeric-suffix only, so a malformed authority
    # never loses label text)
    host = F.lower(F.regexp_extract(u, r"^[^:]+://(?:[^/?#@]*@)?([^/?#]+)", 1))
    host = F.regexp_replace(host, r":[0-9]*$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    pathq = F.regexp_extract(u, r"^[^:]+://[^/?#]+([^#]*)", 1)
    domain = registrable_domain_expr(host)
    bad_scheme = ~scheme.isin(*ALLOW_SCHEMES)
    reg_entries, subtree_entries = [], []
    for e in BLOCK_DOMAINS:
        el = e.lower().strip(".")
        if not el:
            continue
        # registrable-level iff the PSL maps the entry to itself AND the
        # entry is not a bare public suffix (which maps to itself only
        # by passthrough)
        labels = el.split(".")
        if registrable_domain_py(el) == el and suffix_len_py(el) < len(labels):
            reg_entries.append(el)
        else:
            subtree_entries.append(el)
    bad_domain = (
        domain.isin(*reg_entries) if reg_entries else F.lit(False)
    )
    for el in subtree_entries:
        bad_domain = bad_domain | (host == el) | host.endswith("." + el)
    bad_path = F.lit(False)
    for rx in BLOCK_PATH_RES:
        bad_path = bad_path | pathq.rlike(rx)
    reason = (
        F.when(bad_scheme, F.lit("scheme"))
        .when(bad_domain, F.lit("domain"))
        .when(bad_path, F.lit("path"))
        .otherwise(F.lit(""))
    )
    return df.select(
        F.col(id_col),
        host.alias("host"),
        domain.alias("domain"),
        pathq.alias("path"),
        (bad_scheme | bad_domain | bad_path).cast("long").alias("blocked"),
        reason.alias("block_reason"),
    )


def _hash60(col):
    """The engine's portable 60-bit hash: the first 15 hex digits of the
    md5 of ``col`` as a BIGINT — ``('0x' || substring(md5(x), 1, 15))``
    in the oracles, so the sampling, shard and n-gram bucket rules that
    read it agree with DuckDB bit for bit."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: Dict[str, float],
) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing step of a
    pretraining pipeline (keep 100 % of a curated source, 25 % of raw
    web, 0 % of a blocked source).  Each row keeps iff a 60-bit
    md5-derived hash of ``id || ':'`` falls under its stratum's
    threshold ``int(rate * 2^60)`` — so membership is a pure function of
    the id: reruns, resumes and engines agree row for row, and raising a
    stratum's rate strictly GROWS its sample (nested samples, the
    standard hash-sampling property).  A stratum missing from ``rates``
    keeps nothing.

    Returns the input columns + ``sample_hash`` (audit) + ``sample_keep``
    (0/1; callers filter).  ``rates`` is a plain dict compiled into a
    when-chain, so strata cardinality should be modest (100s); a
    deployment with unbounded strata joins a rates frame instead — same
    hash rule.  Thresholds are computed in integer space (never a
    float compare at 2^60 scale where doubles lose exactness).

    Scale shape: one projection, zero shuffles, zero Python."""
    hash60 = _hash60(F.concat(F.col(id_col).cast("string"), F.lit(":")))
    thr = None
    for k in sorted(rates):
        cond = F.col(strata_col) == F.lit(k)
        t = F.lit(int(rates[k] * (1 << 60)))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = F.lit(0) if thr is None else thr.otherwise(F.lit(0))
    return df.select(
        *df.columns,
        hash60.alias("sample_hash"),
        (hash60 < thr).cast("long").alias("sample_keep"),
    )


# pack_shards' hash buckets (one ordered token stream each)
PACK_BUCKETS = 4


def pack_shards(
    df: DataFrame, id_col: str, token_col: str, budget: int
) -> DataFrame:
    """Sequence-packing shard assignment: documents are laid into a
    deterministic concatenated token stream (ordered by id within a hash
    bucket) and each document belongs to the training shard where its
    first token lands — (id, bucket, start_offset, shard, n_tokens) with
    ``shard = floor(start_offset / budget)``.  This is the standard
    "concatenate then split every N tokens" pretraining layout, expressed
    as an assignment table a writer can ``partitionBy(bucket, shard)``.

    Scale shape: the running sum is a window WITHIN one of PACK_BUCKETS
    buckets (≈ cluster cores), so each bucket's ordered scan is
    executor-sized — one hash exchange, no global sort, no driver state.
    The bucket hash is md5-based (engine-portable, stable across runs);
    one bucket would be the strict single-stream layout."""
    from pyspark.sql import Window

    bucket = _hash60(F.col(id_col).cast("string")) % PACK_BUCKETS
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("_nt").over(w) - F.col("_nt")
    return (
        df.select(
            F.col(id_col),
            F.col(token_col).alias("_nt"),
            bucket.alias("bucket"),
        )
        .select(
            F.col(id_col),
            "bucket",
            start.cast("long").alias("start_offset"),
            F.floor(start / F.lit(budget)).cast("long").alias("shard"),
            F.col("_nt").cast("long").alias("n_tokens"),
        )
    )


def _hashed_grams(df: DataFrame, id_col: str, text_col: str,
                  num_buckets: int) -> DataFrame:
    """(id, bucket) rows — unigrams + bigrams of the whitespace tokens,
    hashed into ``num_buckets`` via the engine's portable 60-bit md5
    convention (the stratified_sample hash).  The bigram builder guards
    ``size >= 2`` (Spark ``sequence(1, 0)`` DESCENDS)."""
    t = _tokens(text_col)
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(
        F.col(id_col), F.explode(F.concat(t, bigrams)).alias("g")
    )
    bucket = _hash60(F.col("g")) % num_buckets
    return g.select(id_col, bucket.alias("bk"))


# importance_weights' hashed-feature buckets
IMPORTANCE_BUCKETS = 1024


def importance_weights(
    raw: DataFrame, target: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): score
    every ``raw`` document by how much more likely its hashed unigram+
    bigram features are under the ``target`` domain's distribution than
    under the raw corpus's own —

        log w(x) = sum_{g in grams(x)} [ log p_tgt(b(g)) - log p_raw(b(g)) ]

    with Laplace +1 smoothing over ``IMPORTANCE_BUCKETS``.  Selecting the top
    weights (or hash-sampling proportionally — ``stratified_sample``
    composes downstream) reweights raw web text toward the target domain;
    this is the standard importance-resampling curation step of a
    pretraining pipeline.

    Returns ``(id, n_grams, log_weight)`` for EVERY raw document —
    gram-less (empty/NULL text) docs pass through with ``(0, 0.0)`` (the
    unigram_logprob output-contract discipline).  ``log_weight`` rounds
    to 7 decimals (order-dependent float sums across engines).

    Scale shape: the two distribution tables are IMPORTANCE_BUCKETS rows
    (map-side combinable groupBys, broadcast into the scoring join), the
    corpus totals ride as LAZY 1-row broadcast cross-joins (no driver
    action), and scoring is one (id, bucket) pre-aggregation + one
    broadcast join + one map-side-combinable groupBy on the id — the raw
    corpus is never shuffled except by its own id.  The bucket count bounds
    model size independently of corpus vocabulary, which is the point of
    the hashing trick at 100 TB."""
    rg = _hashed_grams(raw, id_col, text_col, IMPORTANCE_BUCKETS)
    tg = _hashed_grams(target, id_col, text_col, IMPORTANCE_BUCKETS)
    raw_cnt = rg.groupBy("bk").agg(F.count("*").alias("rc"))
    tgt_cnt = tg.groupBy("bk").agg(F.count("*").alias("tc"))
    raw_tot = rg.agg(F.count("*").alias("rn"))
    tgt_tot = tg.agg(F.count("*").alias("tn"))
    b = F.lit(float(IMPORTANCE_BUCKETS))
    term = F.log(
        (F.coalesce(F.col("tc"), F.lit(0)) + 1).cast("double")
        / (F.col("tn").cast("double") + b)
    ) - F.log(
        (F.col("rc") + 1).cast("double") / (F.col("rn").cast("double") + b)
    )
    per = (
        rg.groupBy(id_col, "bk")
        .agg(F.count("*").alias("cnt"))
        # every raw gram is counted in raw_cnt, so rc never misses; the
        # target side may — coalesce(tc, 0) above
        .join(F.broadcast(raw_cnt), "bk")
        .join(F.broadcast(tgt_cnt), "bk", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.round(F.sum(F.col("cnt") * term), 7).alias("log_weight"),
        )
    )
    return (
        raw.select(F.col(id_col))
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        )
    )


# terms tfidf_top_terms keeps per document
TFIDF_TOP_K = 5


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Top-TFIDF_TOP_K TF-IDF terms per document ->
    ``(id, term, tf, doc_freq, score, rank)`` — the classic keyword /
    salient-term extraction step (corpus profiling, retrieval indexing,
    topic labeling over web text).

        score = tf · ( ln((N+1)/(df+1)) + 1 )      (smoothed idf)

    with raw term counts as tf.  Scores round to 9 decimals BEFORE
    ranking (the bm25_adopt convention — cross-engine float noise must
    not reorder ties) and ties break by term ascending, so the top-k set
    is engine-stable.

    Scale shape: one explode + per-(doc, term) count (map-side
    combinable), document frequency is one per-term groupBy whose result
    joins back by term (vocabulary-sized, AQE broadcasts small vocabs),
    the corpus total N rides as a LAZY 1-row broadcast cross-join, and
    the top-k window partitions by the document id — no global sort, no
    Python.  Documents with no tokens emit no rows (keyword extraction
    has nothing to say about them — unlike the quality scorers, absence
    IS the contract here)."""
    t = _tokens(text_col)
    terms = df.select(F.col(id_col), F.explode(t).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    docfreq = (
        terms.distinct()
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("doc_freq"))
    )
    n_docs = F.broadcast(df.agg(F.count("*").cast("double").alias("n")))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(n_docs)
        .select(
            id_col,
            "term",
            "tf",
            "doc_freq",
            F.round(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("n") + 1.0)
                        / (F.col("doc_freq").cast("double") + 1.0)
                    )
                    + 1.0
                ),
                9,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).filter(F.col("rank") <= TFIDF_TOP_K)
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement ->
    ``(id, weight, es_key, rank)``, the top-k rows by the
    Efraimidis-Spirakis (2006) exponential-key rule — inclusion
    probability proportional to weight, which is the RESAMPLING half of
    importance resampling (``importance_weights`` scores, this draws)
    and the "sample proportional to quality" step after
    ``score_with_classifier``.

        u_i  = (h_i + 1) / 2^60          (h_i = the engine's 60-bit md5
                                          hash of id || ':' — the
                                          stratified_sample convention)
        key_i = ln(u_i) / w_i            (monotone in u_i^(1/w_i))

    take the k LARGEST keys.  Determinism: membership is a pure function
    of (id, weight) — reruns, resumes and engines agree row for
    row.  Keys round to 9
    decimals BEFORE ranking with ties broken by id ascending (the
    engine-stability convention).  Rows with NULL or non-positive weight
    are excluded (they have no sampling mass).

    Scale shape: one projection computes every key, then a global top-k
    (TakeOrdered — per-partition heaps merged on the driver, never a
    full sort); zero joins, zero Python."""
    from pyspark.sql import Window

    hash60 = _hash60(F.concat(F.col(id_col).cast("string"), F.lit(":")))
    u = (hash60.cast("double") + 1.0) / F.lit(float(1 << 60))
    es = F.round(F.log(u) / F.col(weight_col).cast("double"), 9)
    keyed = (
        df.filter(F.col(weight_col) > 0)
        .select(
            F.col(id_col),
            F.col(weight_col).cast("double").alias("weight"),
            es.alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("es_key").desc(), F.col(id_col).asc())
    return keyed.withColumn("rank", F.row_number().over(w).cast("long"))


#: 13-19 digits with optional single space/dash separators, word-bounded
#: (a 20+ digit run can never match: every candidate window would need a
#: word boundary inside the run).  RE2-safe — no lookarounds.
CARD_RE = r"\b(?:\d[ -]?){12,18}\d\b"


def detect_credit_cards(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Luhn-validated payment-card detection ->
    ``(id, n_candidates, n_valid)`` — the PCI-grade upgrade of the
    regex-only PII pass (``redact_pii``): a 13-19 digit run (optional
    space/dash separators) is only a REAL card number if its check
    digit satisfies the Luhn formula, which kills the overwhelmingly
    false-positive long-number matches (timestamps, ids, phone
    concatenations) a regex alone flags.

    Scale shape: pure built-ins end to end — regexp_extract_all +
    per-candidate digit fold (``aggregate`` over ≤19 elements; the
    HOF-fold CodegenFallback note in BENCH/BASELINE.md is about
    vector-sized folds, not 19) — one projection, zero shuffles, zero
    Python, zero joins."""
    cands = F.coalesce(
        F.regexp_extract_all(F.col(text_col), F.lit(CARD_RE), 0),
        F.array().cast("array<string>"),
    )

    def luhn_ok(s):
        r = F.reverse(F.regexp_replace(s, "[ -]", ""))

        def dig(i):
            return r.substr(i, F.lit(1)).cast("int")

        terms = F.transform(
            F.sequence(F.lit(1), F.length(r)),
            lambda i: F.when(
                i % 2 == 0,
                F.when(dig(i) * 2 > 9, dig(i) * 2 - 9).otherwise(
                    dig(i) * 2
                ),
            ).otherwise(dig(i)),
        )
        total = F.aggregate(terms, F.lit(0), lambda a, x: a + x)
        return total % 10 == 0

    valid_flags = F.transform(
        cands, lambda c: F.when(luhn_ok(c), 1).otherwise(0)
    )
    return df.select(
        F.col(id_col),
        F.size(cands).cast("long").alias("n_candidates"),
        F.coalesce(
            F.aggregate(valid_flags, F.lit(0), lambda a, x: a + x),
            F.lit(0),
        )
        .cast("long")
        .alias("n_valid"),
    )


#: common Latin accent folds (char-for-char — multi-char folds like
#: 'ß'->'ss' are deliberately out: translate() is the whole-stage-codegen
#: path and the map is shared verbatim with the SQL oracle).  Uppercase
#: forms fold via lower() first.
ACCENT_FOLD = {
    "à": "a", "á": "a", "â": "a", "ã": "a", "ä": "a", "å": "a",
    "ç": "c",
    "è": "e", "é": "e", "ê": "e", "ë": "e",
    "ì": "i", "í": "i", "î": "i", "ï": "i",
    "ñ": "n",
    "ò": "o", "ó": "o", "ô": "o", "õ": "o", "ö": "o", "ø": "o",
    "ù": "u", "ú": "u", "û": "u", "ü": "u",
    "ý": "y", "ÿ": "y",
}


def normalize_text(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Normalization for dedup keys -> ``(id, norm_text)``: lowercase,
    fold common Latin accents (``ACCENT_FOLD``), collapse everything
    that is not ``[a-z0-9]`` to a single space, trim.  'Café' and
    'CAFE', 'naïve—façade' and 'naive facade' collapse to the same
    string — run it BEFORE exact/MinHash dedup so typographic variants
    stop defeating the content hash.

    Everything is a single projection of string built-ins (lower,
    translate, two regexp_replace) — whole-stage codegen, partition-
    parallel, zero Python; the oracle replays the IDENTICAL pipeline
    with a translate() call generated from the same map.  NULL text
    passes through as '' (the output-contract discipline)."""
    src = "".join(ACCENT_FOLD.keys())
    dst = "".join(ACCENT_FOLD.values())
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.translate(
                    F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    src,
                    dst,
                ),
                "[^a-z0-9\\s]",
                " ",
            ),
            "\\s+",
            " ",
        )
    )
    return df.select(F.col(id_col), norm.alias("norm_text"))
