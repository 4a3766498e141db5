"""Check 0220 — misspelled tags (220) and literal 'key' keys (221).

Reference: /root/reference/checks/0220_misspelled_tags.php (690 LoC).

Per object type (node/way/relation):

* normalize keys/values (strip numbers from keys, replace numbers in
  values with '#', collapse '; '→';'; 0220:496-510), keep keys longer
  than 3 chars, and split ``key parts ++ ['='] ++ value parts ++ ['']``
  into a part array;
* for part positions 1..5: aggregate (prefix, part) usage counts
  (0220:543-551); a part is **regular** when used ≥ max(total/100000,
  50) times (0220:608-611) or force-listed; prefixes with more than
  √N distinct parts are skipped (0220:616-631) except the empty
  prefix; the never-complain LIKE list also exempts prefixes;
* an **irregular** part with a same-prefix regular within Levenshtein
  distance 1 is offending (0220:670-677) — the reference keeps the
  last regular in scan order, we pin the lexicographically greatest
  part (documented deterministic winner, mirrored in the oracle);
  overrules map known multi-char typos first; false-positive pairs
  are skipped;
* errors attach to every object carrying an original tag whose
  normalized part path matches the offending key (0220:571-589).

221 (0220:452-466): objects with a literal key 'key', message built
from the '"key=value"' list (pinned (k,v) order).

All frequencies are per tile (the reference runs per schema).
Everything is native Spark SQL: regexp normalization, per-tile
aggregation limits via join (no driver-side collects), Levenshtein
join on the (tile, prefix) key, broadcast static lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import OsmViews
from ..data_tables import (
    FALSE_POSITIVES_0220,
    FORCE_IRREGULAR_0220,
    FORCE_REGULAR_0220,
    NEVER_COMPLAIN_LIKE_0220,
    OVERRULES_0220,
)
from ..errors import finish_errors
from ..lib import html_escape, materialize, quoted_tag_list, tags_of

K_NUM_RE = r"_*[0-9]+([ \.+/\(\)-]+[0-9]+)*"
V_NUM_RE = r"[0-9]+([ \.+/\(\)-]+[0-9]+)*"
MSG_220 = "This $1 is tagged '$2=$3' where $4 looks like $5"


def _false_pairs():
    pairs = set()
    for grp in FALSE_POSITIVES_0220:
        for a in grp:
            for b in grp:
                if a != b:
                    pairs.add((a, b))
    return sorted(pairs)


def _never_complain_cond():
    cond = F.lit(False)
    for pat in NEVER_COMPLAIN_LIKE_0220:
        cond = cond | F.col("prefix").like(pat)
    return cond


def _check_221(v: OsmViews, otype: str) -> DataFrame:
    msg = f"The key of this {otype}'s tag is 'key': $2"
    tags = tags_of(v, otype).filter(F.col("k") == "key")
    lst = quoted_tag_list(tags)
    return finish_errors(
        lst.select(
            "tile", F.col("id").alias("object_id"),
            F.lit(otype).alias("t1"), F.col("taglist").alias("t2"),
        ),
        221,
        otype,
        msg,
        txt1=F.col("t1"),
        txt2=F.col("t2"),
    ).drop("t1", "t2")


def _all_tags(v: OsmViews) -> DataFrame:
    out = None
    for otype in ("node", "way", "relation"):
        t = tags_of(v, otype).withColumn("otype", F.lit(otype))
        out = t if out is None else out.unionByName(t)
    return out


def _check_220_all(v: OsmViews) -> DataFrame:
    """All three object types and all five part positions in ONE
    dataflow: otype and keylen are data columns, so the whole check is
    a single aggregation/join pipeline instead of 15 driver rounds."""
    spark = v.ways.sparkSession
    tags0 = _all_tags(v)
    knorm = F.regexp_replace(F.col("k"), K_NUM_RE, "")
    vnorm = F.replace(
        F.regexp_replace(F.col("v"), V_NUM_RE, "#"), F.lit("; "), F.lit(";")
    )
    keylist = F.concat(
        F.split(F.col("kn"), ":"),
        F.array(F.lit("=")),
        F.split(F.col("vn"), ":"),
        F.array(F.lit("")),
    )
    tags = materialize(
        tags0.select(
            "tile", "otype",
            F.col("k").alias("k_orig"), F.col("v").alias("v_orig"),
            knorm.alias("kn"), vnorm.alias("vn"),
        )
        .filter(F.length("kn") > 3)
        .withColumn("keylist", keylist)
        .groupBy("tile", "otype", "keylist", "k_orig", "v_orig")
        .agg(F.count(F.lit(1)).alias("tag_count"))
    )

    fp_df = F.broadcast(
        spark.createDataFrame(_false_pairs(), "reg string, irr string")
    )
    force_irr = F.broadcast(
        spark.createDataFrame([(s,) for s in FORCE_IRREGULAR_0220], "fk string")
    )
    force_reg = F.broadcast(
        spark.createDataFrame([(s,) for s in FORCE_REGULAR_0220], "fk string")
    )
    over_df = F.broadcast(
        spark.createDataFrame(
            list(OVERRULES_0220),
            "bad_prefix string, bad_key string, right_prefix string, right_key string",
        )
    )

    kexp = tags.withColumn("keylen", F.explode(F.sequence(F.lit(1), F.lit(5))))
    parts = kexp.filter(F.size("keylist") >= F.col("keylen")).select(
        "tile", "otype", "keylen",
        F.array_join(
            F.slice("keylist", F.lit(1), F.col("keylen") - 1), ":"
        ).alias("prefix"),
        F.element_at("keylist", F.col("keylen")).alias("part"),
        "k_orig", "v_orig", "tag_count",
    )
    gkey = ["tile", "otype", "keylen"]
    keys = (
        parts.filter(F.length("part").between(4, 50))
        .groupBy(*gkey, "prefix", "part")
        .agg(F.sum("tag_count").alias("cnt"))
    )
    totals = keys.groupBy(gkey).agg(
        F.greatest(F.sum("cnt") / 100000.0, F.lit(50.0)).alias("climit"),
        F.sqrt(F.count(F.lit(1))).alias("dlimit"),
    )
    diverse = (
        keys.groupBy(*gkey, "prefix")
        .agg(F.count("part").alias("np"))
        .join(totals, gkey)
        .filter(F.col("np") > F.col("dlimit"))
        .select(*gkey, "prefix")
    )
    cand = (
        keys.join(totals, gkey)
        .join(diverse.withColumn("_div", F.lit(True)), [*gkey, "prefix"], "left")
        .filter(
            (F.col("prefix") == "")
            | (F.col("_div").isNull() & ~_never_complain_cond())
        )
        .drop("_div")
    )
    fkey = F.concat(F.col("prefix"), F.lit(":"), F.col("part"))
    cand = materialize(
        cand.join(force_irr.withColumnRenamed("fk", "_fi"), fkey == F.col("_fi"), "left")
        .join(force_reg.withColumnRenamed("fk", "_fr"), fkey == F.col("_fr"), "left")
        .withColumn(
            "is_reg",
            F.when(F.col("_fi").isNotNull(), F.lit(False))
            .when(F.col("_fr").isNotNull(), F.lit(True))
            .otherwise(F.col("cnt") >= F.col("climit")),
        )
    )
    irregular = cand.filter(~F.col("is_reg")).select(*gkey, "prefix", "part")
    regular = cand.filter(F.col("is_reg")).select(
        *gkey, "prefix", F.col("part").alias("rpart")
    )
    overruled = irregular.join(
        over_df,
        (F.col("prefix") == F.col("bad_prefix"))
        & (F.col("part") == F.col("bad_key")),
    ).select(*gkey, "prefix", "part", F.col("right_key").alias("reg_part"))
    lev = (
        irregular.join(
            over_df,
            (F.col("prefix") == F.col("bad_prefix"))
            & (F.col("part") == F.col("bad_key")),
            "left_anti",
        )
        .join(regular, [*gkey, "prefix"])
        .filter(F.levenshtein("part", "rpart") <= 1)
        .groupBy(*gkey, "prefix", "part")
        # deterministic winner for the reference's last-scan-order
        # pick: lexicographically greatest regular part
        .agg(F.max("rpart").alias("reg_part"))
    )
    offending = overruled.unionByName(lev).join(
        fp_df,
        (F.col("reg_part") == F.col("reg")) & (F.col("part") == F.col("irr")),
        "left_anti",
    )
    bad_tags = (
        parts.join(offending, [*gkey, "prefix", "part"])
        .select(
            "tile", "otype", "k_orig", "v_orig",
            F.concat(F.lit('"'), F.col("part"), F.lit('"')).alias("wrong_tag"),
            F.concat(F.lit('"'), F.col("reg_part"), F.lit('"')).alias("right_tag"),
        )
        .distinct()
    )
    e = (
        _all_tags(v)
        .join(
            bad_tags.withColumnRenamed("k_orig", "k").withColumnRenamed(
                "v_orig", "v"
            ),
            ["tile", "otype", "k", "v"],
        )
        .select(
            "tile",
            F.col("otype").alias("object_type"),
            F.col("id").alias("object_id"),
            F.col("otype").alias("t1"),
            html_escape(F.col("k")).alias("t2"),
            html_escape(F.col("v")).alias("t3"),
            html_escape(F.col("wrong_tag")).alias("t4"),
            html_escape(F.col("right_tag")).alias("t5"),
        )
        .distinct()
    )
    return finish_errors(
        e, 220, None, MSG_220,
        txt1=F.col("t1"), txt2=F.col("t2"), txt3=F.col("t3"),
        txt4=F.col("t4"), txt5=F.col("t5"),
    ).drop("t1", "t2", "t3", "t4", "t5")


def run(v: OsmViews) -> DataFrame:
    out = _check_220_all(v)
    for otype in ("node", "way", "relation"):
        out = out.unionByName(_check_221(v, otype))
    return out


# object types this check can emit (error_view resolution pruning)
EMITS = ("node", "way", "relation")
