import json

from pyspark.sql import functions as F

from logging_spark.functions.parse import parse_turns, parsed_udf

LINES = [
    ("[INFO] scheduler: request code=17 shard=3",),
    ("[ERROR] sink: rejected code=900 shard=1 extra=x",),
    ("[WARN] gc: queued",),
    ("no structure here",),
    ("",),
    (None,),
]


def _golden():
    return [
        ("INFO", "scheduler", "request", {"code": "17", "shard": "3"}),
        ("ERROR", "sink", "rejected", {"code": "900", "shard": "1", "extra": "x"}),
        ("WARN", "gc", "queued", None),
        (None, None, None, None),
        (None, None, None, None),
        (None, None, None, None),
    ]


def _check(rows):
    got = [
        (r["parsed"]["level"], r["parsed"]["component"], r["parsed"]["message"],
         json.loads(r["parsed"]["attrs"]) if r["parsed"]["attrs"] else None)
        for r in rows
    ]
    assert got == _golden()


def test_parse_builtin_golden(spark):
    df = spark.createDataFrame(LINES, "text string").withColumn(
        "ord", F.monotonically_increasing_id()
    )
    rows = parse_turns(df).orderBy("ord").collect()
    _check(rows)


def test_parse_udf_golden(spark):
    df = spark.createDataFrame(LINES, "text string").withColumn(
        "ord", F.monotonically_increasing_id()
    )
    rows = df.withColumn("parsed", parsed_udf(F.col("text"))).orderBy("ord").collect()
    _check(rows)


def test_builtin_and_udf_agree_on_synth(spark):
    from logging_spark import synth

    df = synth.transcripts(spark, n_conversations=20, turns_per_conv=10,
                           hot_conversations=1, hot_factor=5)
    a = parse_turns(df).select("conv_id", "turn_idx", "ts", "parsed")
    b = df.withColumn("parsed", parsed_udf(F.col("text"))).select(
        "conv_id", "turn_idx", "ts", "parsed")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


EDGE_LINES = [
    "[INFO] a.b-c: msg k=v",              # dotted/dashed component
    "[INFO]    spaced:   msg",             # extra whitespace
    "[info] lower: msg",                   # lowercase level -> no match
    "[INFO] comp: msg k=v=w x=1",          # '=' inside value
    "[INFO] comp: msg trailing words no kv",
    "[[INFO]] comp: msg",                  # doubled brackets
    "[ERROR] c: " + "x" * 5000,            # very long message
    "[WARN] gc: 收集 code=α",              # unicode message + value
    "k=v orphan pairs without header",
    "   ",                                 # whitespace only
    "[INFO] missing-colon msg",
    "[INFO] c: m retry=1 x=0 retry=2",     # duplicate keys: first slot, last value

    "[INFO] c: m " + " ".join(f"k{i}={i}" for i in range(50)),  # many kvs
    '[INFO] c: m k="v"',                   # quote inside value -> JSON escape
    "[INFO] c: m path=a\\b\\c",            # backslashes -> JSON escape
    '[INFO] c: m j={"a":1}',               # value that is itself JSON-ish
]


def test_parse_builtin_matches_udf_on_edge_cases(spark):
    """The codegen-expression parser and the Arrow pandas-UDF parser
    are twins: byte-identical output on adversarial input."""
    import json as _json
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(s,) for s in EDGE_LINES], "text string")
    a = parse_turns(df).select("text", "parsed").collect()
    b = df.withColumn("parsed", parsed_udf(F.col("text"))).select("text", "parsed").collect()

    def norm(rows):
        out = {}
        for r in rows:
            p = r["parsed"]
            attrs = _json.loads(p["attrs"]) if p["attrs"] else None
            out[r["text"]] = (p["level"], p["component"], p["message"], attrs)
        return out

    na, nb = norm(a), norm(b)
    for text in na:
        assert na[text] == nb[text], f"divergence on {text!r}: {na[text]} vs {nb[text]}"

    # the attrs JSON must be BYTE-identical, not just parse-equal —
    # the twin contract (and pipe_parse_grok_udf's oracle) hashes the
    # raw string, so escaping differences (quotes, backslashes) count
    raw_a = {r["text"]: r["parsed"]["attrs"] for r in a}
    raw_b = {r["text"]: r["parsed"]["attrs"] for r in b}
    for text in raw_a:
        assert raw_a[text] == raw_b[text], (
            f"attrs bytes diverge on {text!r}: {raw_a[text]!r} vs {raw_b[text]!r}")


def test_parse_duplicate_keys_do_not_crash(spark):
    """mapKeyDedupPolicy=EXCEPTION must never see duplicate keys: one
    'retry=1 ... retry=2' line would otherwise kill the job."""
    import json as _json
    df = spark.createDataFrame([("[INFO] c: m retry=1 x=0 retry=2",)], "text string")
    row = parse_turns(df).select("parsed").first()["parsed"]
    assert _json.loads(row["attrs"]) == {"retry": "2", "x": "0"}
