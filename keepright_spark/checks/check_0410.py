"""Check 0410 — websites (subtypes 411 http error, 412 domain
hijacking, 413 content non-match).

Reference: /root/reference/checks/0410_website.php (978 LoC).
Disabled upstream (config/error_types.php:256) and kept OUT of this
engine's default suite too — it is exposed as a standalone operator
for datasets that carry a fetch cache.

The reference's shape is a RollingCurl loop: per object with a URL
tag (0410:434-452 — checkable keys, whitelist regexes, MAX(v),
split_tag), fetch every URL (window_size 20), then classify the
response in a callback (0410:656-712): non-2xx → 411; domain-squat
substring → 412 (0410:760-766); otherwise a fuzzy keyword cascade
over the object's search tags (match/match_any, 0410:862-957) with
meta-refresh re-queues and frameset fetch-and-append in between
(0410:807-857) → 413 when nothing matched.

Spark-first split:

* the **fetch is the environmental boundary** — the cluster twin of
  RollingCurl is a rate-limited per-host fetcher; here the check
  takes a *web cache* DataFrame (url, http_code, body) standing in
  for what the fetches returned (datagen writes a deterministic
  ``webcache.parquet``).  ``run`` without a cache raises
  NotImplementedError exactly like media.decode_media's real-codec
  hook.
* everything else — candidate selection, URL normalization, redirect
  hops, frames, squat scan, the whole match cascade — is native
  column algebra: the per-object "callback" state machine becomes a
  bounded chain of ≤6 cache joins (redirect hop budget, 0410:689)
  and one wide projection of string/array expressions in whole-stage
  codegen.  At 100 TB the joins hash-partition on url (the cache) and
  (object_type, id); nothing is per-row Python.

Documented deviations from the PHP (none observable on the planted
fixtures, all shared with the oracle):

* PHP ``stripos(...)`` treats a match at position 0 as *not found*
  (falsy); here position 0 counts as found.
* case-insensitive compare is full-Unicode (PHP stripos folds ASCII
  only); word length is in characters (PHP strlen counts bytes).
* iconv TRANSLIT is modeled by the explicit accent map
  (data_tables.ACCENT_FROM_0410) — the planted corpus's charset.
* fix_charset's meta-charset iconv is a no-op (cache bodies are
  UTF-8); html_entity_decode covers the five basic entities.
* ``[\\h\\v]`` in the refresh regex becomes ``[ \\t\\r\\n]`` (RE2,
  the oracle's engine, has no \\h).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..codec import OsmViews
from ..data_tables import (
    ACCENT_FROM_0410,
    ACCENT_TO_0410,
    ACCESS_ONLY_0410,
    CHECKABLE_TAGS_0410,
    SEARCH_KEY_REGEX_0410,
    SEARCH_KEYS_0410,
    SQUAT_STRINGS_0410,
    UMLAUT_PAIRS_0410,
    WHITELIST_0410,
)
from ..export import split_tag
from ..lib import materialize, tags_of

MSG_411 = (
    'The URL (<a target="_blank" href="$1">$1</a>) cannot be opened '
    "(HTTP status code $2)"
)
MSG_412 = (
    'Possible domain squatting: <a target="_blank" href="$1">$1</a>. '
    'Suspicious text is: "$2"'
)
MSG_413 = (
    'Content of the URL (<a target="_blank" href="$1">$1</a>) did not '
    "contain these keywords: ($2)"
)

WHITELIST_RE = "(?i)(" + "|".join(WHITELIST_0410) + ")"
# 0410:948-951 — meta refresh; [ \t\r\n] stands in for PHP's [\h\v]
REFRESH_RE = (
    '(?i)meta[ \\t\\r\\n]*?http-equiv[ \\t\\r\\n]*?=[ \\t\\r\\n]*?'
    '"refresh".*content[ \\t\\r\\n]*?=[ \\t\\r\\n]*?".*?'
    'url=[ \\t\\r\\n]*?(.*?)"'
)
NOSCRIPT_RE = "(?is)<NOSCRIPT>.*</NOSCRIPT>"
FRAME_RE = '(?i)<FRAME.*?SRC="(.*?)".*?>'
MAX_REDIRECTS = 5  # 0410:689 keepright_loopcount > 5 gives up
WORD_STOPLIST = ["test", "cafe", "café"]  # 0410:946-949, case-sensitive


def _entity_decode(body: Column) -> Column:
    """fix_charset's html_entity_decode (0410:715-727), five-entity
    subset; &amp; last so single-pass semantics hold."""
    out = body
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#039;", "'"), ("&amp;", "&")]:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def _queue_norm(url: Column) -> Column:
    """queueURL's normalization (0410:616-625): trim + default scheme.
    (IDN→punycode — convert_to_ascii, 0410:578-601 — is a pre-step for
    live fetching, idn_ascii below; cache URLs are already ASCII.)"""
    t = F.trim(url)
    return F.when(t.rlike("://"), t).otherwise(F.concat(F.lit("http://"), t))


def _normalize_rel(url: Column, referer: Column) -> Column:
    """normalize_url (0410:963-976): relative targets get the
    referer's scheme://host."""
    absolute = url.rlike("://") | url.contains("www.")
    scheme = F.regexp_extract(referer, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    host = F.regexp_extract(referer, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]*)", 1)
    joined = F.concat(
        scheme, F.lit("://"), host,
        F.when(url.startswith("/"), url).otherwise(F.concat(F.lit("/"), url)),
    )
    return F.when(absolute, url).otherwise(joined)


def idn_ascii(urls):
    """Vectorized IDN→punycode host conversion (convert_to_ascii,
    0410:578-601) for live-fetch pipelines — a pandas helper kept OFF
    the check plan (the cache corpus is ASCII; applying it there would
    put an Arrow stage in an otherwise pure-JVM plan)."""
    import pandas as pd

    def conv(u):
        try:
            scheme, rest = u.split("://", 1)
            host, slash, path = rest.partition("/")
            return f"{scheme}://{host.encode('idna').decode('ascii')}{slash}{path}"
        except (ValueError, UnicodeError):
            return u

    return pd.Series([conv(u) if isinstance(u, str) else u for u in urls])


# --------------------------------------------------------------------------
# the match cascade (0410:862-957) as column algebra
# --------------------------------------------------------------------------


def _ascii(c: Column) -> Column:
    return F.translate(c, ACCENT_FROM_0410, ACCENT_TO_0410)


def _umlaut(c: Column) -> Column:
    for a, b in UMLAUT_PAIRS_0410:
        c = F.replace(c, F.lit(a), F.lit(b))
    return c


def _nopunct(c: Column) -> Column:
    return F.regexp_replace(c, r"\p{P}", "")


def _words(needle: Column) -> Column:
    """match_any's qualifying words (0410:942-957): ≥4 chars, minus
    the literal stoplist (case-sensitive, like PHP's ==)."""
    return F.filter(
        F.split(needle, r"\s+"),
        lambda w: (F.length(w) >= 4) & ~w.isin(*WORD_STOPLIST),
    )


def _any_found(hay_lower: Column, words: Column) -> Column:
    """match_any passes when any qualifying word occurs — or when no
    word qualifies (PHP returns '' which is falsy → treated found)."""
    return (F.size(words) == 0) | F.exists(
        words, lambda w: F.instr(hay_lower, F.lower(w)) > 0
    )


def _match(hay: Column, hay3: Column, needle: Column) -> Column:
    """One match() run (0410:862-939): struct(matched boolean,
    searched string) where searched is the ✔-joined unique variation
    list accumulated on failure.  ``hay3`` is the punctuation→space
    haystack (step 6), precomputed once per response."""
    hl = F.lower(hay)
    h3l = F.lower(hay3)

    m1 = F.instr(hl, F.lower(needle)) > 0

    w2 = _words(needle)
    c2 = F.concat_ws("", w2)
    m2 = _any_found(hl, w2)

    n3 = _ascii(needle)
    run3 = (n3 != needle) & (n3 != c2)
    w3 = _words(n3)
    c3 = F.concat_ws("", w3)
    m3 = run3 & _any_found(hl, w3)

    n4 = _umlaut(needle)
    run4 = (n4 != needle) & (n4 != c2) & ~(run3 & (n4 == c3))
    w4 = _words(n4)
    c4 = F.concat_ws("", w4)
    m4 = run4 & _any_found(hl, w4)

    n5 = _nopunct(needle)
    prior5 = (
        (n5 == needle) | (n5 == c2)
        | (run3 & (n5 == c3)) | (run4 & (n5 == c4))
    )
    w5 = _words(n5)
    c5 = F.concat_ws("", w5)
    m5 = ~prior5 & _any_found(hl, w5)

    # step 6 re-checks the same needle2 against searchedfor, which by
    # now includes step 5's append (0410:925-931)
    prior6 = prior5 | (~prior5 & (n5 == c5))
    m6 = ~prior6 & _any_found(h3l, w5)

    matched = m1 | m2 | m3 | m4 | m5 | m6
    variations = F.concat(
        F.array(needle, c2),
        F.when(run3, F.array(c3)).otherwise(F.array().cast("array<string>")),
        F.when(run4, F.array(c4)).otherwise(F.array().cast("array<string>")),
        F.when(~prior5, F.array(c5)).otherwise(F.array().cast("array<string>")),
        F.when(~prior6, F.array(c5)).otherwise(F.array().cast("array<string>")),
    )
    searched = F.array_join(F.array_distinct(variations), "✔")
    return F.struct(matched.alias("matched"), searched.alias("searched"))


def _fuzzy(hay: Column, needles: Column) -> Column:
    """fuzzy_compare's keyword part (0410:773-800): struct(matched,
    searched) over the ordered needle array — matched when any needle
    matches OR no needles exist; searched is the bare concatenation
    of the per-needle variation strings (PHP appends with no glue)."""
    hay3 = F.regexp_replace(hay, r"\p{P}", " ")
    per = F.transform(needles, lambda n: _match(hay, hay3, n))
    matched = (F.size(needles) == 0) | F.exists(per, lambda r: r["matched"])
    searched = F.array_join(F.transform(per, lambda r: r["searched"]), "")
    return F.struct(matched.alias("matched"), searched.alias("searched"))


def _squat_hit(body: Column) -> Column:
    """First (by position, then list order) squat substring in the
    body (0410:760-766; case-sensitive), NULL when clean."""
    hits = F.filter(
        F.array(*[
            F.struct(
                F.instr(body, F.lit(s)).alias("pos"),
                F.lit(i).alias("idx"),
                F.lit(s).alias("s"),
            )
            for i, s in enumerate(SQUAT_STRINGS_0410)
        ]),
        lambda r: r["pos"] > 0,
    )
    return F.array_min(hits)["s"]


# --------------------------------------------------------------------------
# candidate selection + fetch-state machine
# --------------------------------------------------------------------------


def _all_tags(v: OsmViews) -> DataFrame:
    """(object_type, id, k, v) — object-level (tile-deduped)."""
    parts = [
        tags_of(v, ot).select(
            F.lit(ot).alias("object_type"), "id", "k", "v"
        )
        for ot in ("node", "way", "relation")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def candidates(v: OsmViews) -> DataFrame:
    """One row per (object, url): checkable tags minus whitelisted
    values, MAX(v) per object, split on ';' (0410:434-452), then
    queueURL-normalized.  Adds check_content (false when the object
    carries an accessibility-only key, 0410:60-62,456) and the
    ordered search-needle array (0410:66-77,773-795)."""
    tags = _all_tags(v)
    key = ["object_type", "id"]
    urltag = (
        tags.filter(F.col("k").isin(CHECKABLE_TAGS_0410))
        .filter(~F.col("v").rlike(WHITELIST_RE))
        .groupBy(*key)
        .agg(F.max("v").alias("urltag"))
    )
    obj_tags = tags.join(urltag.select(*key), key, "left_semi")
    access = (
        obj_tags.filter(F.col("k").isin(ACCESS_ONLY_0410))
        .select(*key).distinct().withColumn("access_only", F.lit(True))
    )
    fixed = (
        obj_tags.filter(F.col("k").isin(SEARCH_KEYS_0410))
        .groupBy(*key, "k").agg(F.max("v").alias("v"))
        .groupBy(*key)
        .agg(F.map_from_entries(F.collect_list(F.struct("k", "v"))).alias("m"))
        .select(
            *key,
            F.filter(
                F.array(*[F.col("m").getItem(k) for k in SEARCH_KEYS_0410]),
                lambda x: x.isNotNull(),
            ).alias("fixed_needles"),
        )
    )
    rex = (
        obj_tags.filter(F.col("k").rlike("(?i)" + SEARCH_KEY_REGEX_0410))
        .groupBy(*key, "k").agg(F.max("v").alias("v"))
        .groupBy(*key)
        .agg(F.array_sort(F.collect_list(F.struct("k", "v"))).alias("kv"))
        .select(*key, F.transform("kv", lambda x: x["v"]).alias("rex_needles"))
    )
    empty = F.array().cast("array<string>")
    return (
        urltag
        .join(access, key, "left")
        .join(fixed, key, "left")
        .join(rex, key, "left")
        .select(
            *key,
            F.coalesce("access_only", F.lit(False)).alias("access_only"),
            F.concat(
                F.coalesce("fixed_needles", empty),
                F.coalesce("rex_needles", empty),
            ).alias("needles"),
            F.explode(split_tag(F.col("urltag"))).alias("rawurl"),
        )
        .withColumn("url", _queue_norm(F.col("rawurl")))
        .drop("rawurl")
    )


def _refresh_target(body: Column) -> Column:
    """The meta-refresh target (0410:812-825): NOSCRIPT blocks
    stripped, quotes removed, trimmed; NULL when absent or the
    self-refresh ''/'/' cases."""
    t = F.regexp_extract(F.regexp_replace(body, NOSCRIPT_RE, ""), REFRESH_RE, 1)
    t = F.trim(F.translate(t, "'\"", ""))
    return F.when((t != "") & (t != "/"), t)


def run_cached(v: OsmViews, webcache: DataFrame) -> DataFrame:
    """The full check against a fetch cache: (error_type,
    object_type, object_id, msgid, txt1, txt2) rows."""
    cache = webcache.select(
        F.col("url").alias("c_url"), "http_code", "body"
    )

    def fetch(df: DataFrame) -> DataFrame:
        out = (
            df.join(cache, df["url"] == cache["c_url"], "left")
            .drop("c_url")
            .withColumn("http_code", F.coalesce("http_code", F.lit(0)))
            .withColumn(
                "body",
                F.when(
                    ~F.col("access_only"),
                    _entity_decode(F.coalesce("body", F.lit(""))),
                ).otherwise(F.coalesce("body", F.lit(""))),
            )
        )
        ok = (F.col("http_code") >= 200) & (F.col("http_code") <= 299)
        return out.withColumn(
            "hop_to",
            F.when(ok & ~F.col("access_only"), _refresh_target(F.col("body"))),
        )

    # Candidate selection scans every tag through the whitelist regex —
    # truncate lineage once so the hop loop (and the 411/412/413 branches
    # below, which all reuse `resolved`) never re-derives it.  Each hop
    # is materialized too: the loop is data-dependent (early exit when no
    # URL still redirects), so without truncation hop N's plan would
    # embed N copies of the fetch join.
    state = materialize(fetch(candidates(v)))
    resolved_parts = [state.filter(F.col("hop_to").isNull())]
    pending = state.filter(F.col("hop_to").isNotNull())
    for _ in range(MAX_REDIRECTS):
        if pending.isEmpty():
            break
        nxt = pending.select(
            "object_type", "id", "access_only", "needles",
            _queue_norm(_normalize_rel(F.col("hop_to"), F.col("url"))).alias("url"),
        )
        hopped = materialize(fetch(nxt))
        resolved_parts.append(hopped.filter(F.col("hop_to").isNull()))
        pending = hopped.filter(F.col("hop_to").isNotNull())
    # still redirecting after the hop budget → give up silently
    # (0410:687-691)
    resolved = resolved_parts[0]
    for part in resolved_parts[1:]:
        resolved = resolved.unionByName(part)

    code = F.col("http_code")
    e411 = (
        resolved.filter((code != 0) & ((code < 200) | (code > 299)))
        .select(
            F.lit(411).alias("error_type"),
            "object_type",
            F.col("id").alias("object_id"),
            F.lit(MSG_411).alias("msgid"),
            F.col("url").alias("txt1"),
            code.cast("string").alias("txt2"),
        )
    )

    # content checks on the final 2xx body, frames appended
    # (0410:840-852: url text + frame body, document order)
    content = resolved.filter(
        (code >= 200) & (code <= 299) & ~F.col("access_only")
    ).withColumn(
        "frame_urls",
        F.transform(
            F.regexp_extract_all("body", F.lit(FRAME_RE), F.lit(1)),
            lambda s: _normalize_rel(s, F.col("url")),
        ),
    )
    frames = (
        content.select(
            "object_type", "id", "url",
            F.posexplode("frame_urls").alias("pos", "f_url"),
        )
        .join(cache, F.col("f_url") == cache["c_url"], "left")
        .groupBy("object_type", "id", "url")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "pos",
                                F.concat(
                                    F.col("f_url"), F.lit("\n"),
                                    F.coalesce("body", F.lit("")),
                                ).alias("part"),
                            )
                        )
                    ),
                    lambda r: r["part"],
                ),
            ).alias("frame_body")
        )
    )
    content = (
        content.join(frames, ["object_type", "id", "url"], "left")
        .withColumn(
            "haystack",
            F.concat(F.col("body"), F.coalesce("frame_body", F.lit(""))),
        )
    )

    squat = _squat_hit(F.col("haystack"))
    fuzzy = _fuzzy(F.col("haystack"), F.col("needles"))
    classified = content.select(
        "object_type",
        F.col("id").alias("object_id"),
        F.col("url").alias("txt1"),
        squat.alias("squat"),
        fuzzy["matched"].alias("matched"),
        fuzzy["searched"].alias("searched"),
    )
    e412 = classified.filter(F.col("squat").isNotNull()).select(
        F.lit(412).alias("error_type"),
        "object_type", "object_id",
        F.lit(MSG_412).alias("msgid"),
        "txt1",
        F.col("squat").alias("txt2"),
    )
    e413 = (
        classified.filter(F.col("squat").isNull() & ~F.col("matched"))
        .filter(F.col("searched") != "")
        .select(
            F.lit(413).alias("error_type"),
            "object_type", "object_id",
            F.lit(MSG_413).alias("msgid"),
            "txt1",
            F.col("searched").alias("txt2"),
        )
    )
    return e411.unionByName(e412).unionByName(e413).distinct()


def run(v: OsmViews) -> DataFrame:
    """Live-fetch entry point — the RollingCurl twin (a rate-limited
    per-host HTTP fetcher feeding run_cached) is environmental, like
    media.decode_media's real codec."""
    raise NotImplementedError(
        "check 0410 needs a fetch cache: call run_cached(v, webcache) "
        "— live HTTP fetching is not available in this environment"
    )


EMITS = ("node", "way", "relation")
