"""pipe family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    DUPS_CTE, F, LOOKUP_CTE, ROUTED_CTE, RULES, Rule, T, TURNS_CTE, Window,
    _read, assemble_conversations, assemble_multiline, context_examples,
    dedup_latest_wins, enrich, enriched_df, jp, lookup_df, merge_consecutive,
    merge_frames, parsed_df, per_sink_counts,
    per_sink_role_rollup, resume_points, routed_df, sessionize, spike_flags,
    turns_df, turns_with_dups)
from logging_spark.functions.parse import parsed_udf


def register(q):


    # -- P1/P7 + §2.7 vectorized parser ------------------------------------
    def pipe_parse_grok(spark, sf):
        t = parsed_df(spark, sf)
        return t.select(
            "conv_id", "turn_idx",
            F.col("parsed.level").alias("level"),
            F.col("parsed.component").alias("component"),
            F.col("parsed.message").alias("message"),
            F.get_json_object("parsed.attrs", "$.code").alias("attr_code"),
            F.get_json_object("parsed.attrs", "$.k").alias("attr_k"),
        )
    q["pipe_parse_grok"] = pipe_parse_grok

    # Arrow-batched pandas-UDF twin of the parser (north_star's
    # mandated path), value-checked against the same oracle
    def pipe_parse_grok_udf(spark, sf):
        t = turns_df(spark, sf)
        t = t.withColumn("parsed", parsed_udf(t["text"]))
        return t.select(
            "conv_id", "turn_idx",
            F.col("parsed.level").alias("level"),
            F.col("parsed.component").alias("component"),
            F.col("parsed.message").alias("message"),
            F.get_json_object("parsed.attrs", "$.code").alias("attr_code"),
            F.get_json_object("parsed.attrs", "$.k").alias("attr_k"),
        )
    q["pipe_parse_grok_udf"] = pipe_parse_grok_udf

    # -- W1 window-ranked dedup --------------------------------------------
    q["pipe_dedup_w1"] = lambda spark, sf: dedup_latest_wins(
        turns_with_dups(spark, sf)).select("conv_id", "turn_idx", "role", "text")

    # -- J4 broadcast enrich with defaults ---------------------------------
    def pipe_enrich_j4(spark, sf):
        t = enrich(turns_df(spark, sf), lookup_df(spark, sf))
        return t.select("conv_id", "turn_idx", "tool", "namespace",
                        "pod_name", "node_name", "service_name")
    q["pipe_enrich_j4"] = pipe_enrich_j4

    # -- S8/J5/T4/T5 router -------------------------------------------------
    q["pipe_route_fanout"] = lambda spark, sf: routed_df(spark, sf).select(
        "sink_name", "conv_id", "turn_idx", "role", "text")

    # broadcast-join router twin (scale path for huge rule tables);
    # must produce byte-identical routed rows -> same oracle
    def pipe_route_join(spark, sf):
        from logging_spark.operators.route import route_join
        from logging_spark.schema import RULES as RULES_SCHEMA
        t = enriched_df(spark, sf)
        rules_rows = [(r.sink_name, r.expr, r.max_length, r.role_filter, r.enabled)
                      for r in RULES]
        rules_table = spark.createDataFrame(rules_rows, schema=RULES_SCHEMA)
        return route_join(t, rules_table).select(
            "sink_name", "conv_id", "turn_idx", "role", "text")
    q["pipe_route_join"] = pipe_route_join

    # -- A2 per-sink aggregates --------------------------------------------
    q["pipe_sink_counts"] = lambda spark, sf: per_sink_counts(routed_df(spark, sf))

    # -- rule hit-rate census: per sink, routed rows as a ppm share of
    # the INPUT turns plus fan-out factor — the router-tuning report
    # ("which rules fire, how much amplification"). Scalar total rides
    # a broadcast single-row aggregate, never a window.
    def pipe_rule_hit_rate(spark, sf):
        routed = routed_df(spark, sf)
        total = turns_df(spark, sf).agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"))
        per = (routed.groupBy("sink_name")
               .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.countDistinct("conv_id").cast("long")
                    .alias("n_convs")))
        return (per.crossJoin(F.broadcast(total))
                .selectExpr("sink_name", "n_rows", "n_convs",
                            "n_turns",
                            "(n_rows * 1000000) DIV n_turns "
                            "AS hit_ppm"))
    q["pipe_rule_hit_rate"] = pipe_rule_hit_rate
    q["pipe_role_rollup"] = lambda spark, sf: per_sink_role_rollup(routed_df(spark, sf))

    # -- T5 unrouted accounting --------------------------------------------
    q["pipe_unrouted"] = lambda spark, sf: (
        routed_df(spark, sf).where(F.col("sink_name") == "_unrouted")
        .groupBy("role").agg(F.count(F.lit(1)).alias("n_rows")))

    # -- flagship end-to-end ------------------------------------------------
    q["pipe_e2e"] = lambda spark, sf: per_sink_counts(routed_df(spark, sf))

    # -- A3 max-offset resume points ---------------------------------------
    q["pipe_max_offset"] = lambda spark, sf: resume_points(
        turns_df(spark, sf)).withColumnRenamed("max_offset", "max_turn")

    # -- A4 distinct membership --------------------------------------------
    q["pipe_distinct_sinks"] = lambda spark, sf: (
        routed_df(spark, sf).select("sink_name").distinct())

    # -- P2 max-length guard ------------------------------------------------
    def pipe_truncate_p2(spark, sf):
        r = Rule("t", expr="*", max_length=20)
        t = turns_df(spark, sf)
        return t.select(
            "conv_id", "turn_idx",
            r.truncate("text").alias("text_trunc"),
            F.length("text").cast("int").alias("n_chars"),
        )
    q["pipe_truncate_p2"] = pipe_truncate_p2

    # -- P9 dotted-path JSON access ----------------------------------------
    q["pipe_json_path_p9"] = lambda spark, sf: _read(spark, sf, "events").select(
        "event_id", "event_type",
        F.get_json_object("props", "$.k").alias("attr_k"))

    def pipe_json_set_delete(spark, sf):
        # P9 Set/Delete (reference dict.go:23-57): struct withField
        # (replace + create-new-field), struct dropFields, and the
        # JSON-string twins over the parser's attrs payload.
        t = parsed_df(spark, sf)
        p = F.col("parsed")
        p2 = jp.delete_path(
            jp.set_path(
                jp.set_path(p, "component",
                            F.coalesce(p.getField("component"), F.lit("unknown"))),
                "tool_tag", F.coalesce(F.col("tool"), F.lit("none"))),
            "message")
        return t.select(
            "conv_id", "turn_idx",
            p2.getField("component").alias("component_or_default"),
            p2.getField("tool_tag").alias("tool_tag"),
            # remaining non-null fields after Delete, in struct order —
            # proves `message` is gone and `tool_tag` was appended
            F.array_join(F.json_object_keys(F.to_json(p2)), ",").alias("remaining_fields"),
            jp.delete_json_key(p.getField("attrs"), "k").alias("attrs_without_k"),
            jp.set_json_key(p.getField("attrs"), "seen", F.lit("1")).alias("attrs_with_seen"),
        )
    q["pipe_json_set_delete"] = pipe_json_set_delete

    def pipe_merge_upsert(spark, sf):
        # S5 Apply field-wise merge (reference datasource.go:206-276):
        # update rows carry NULLs for fields they do not touch; merged
        # output must preserve those from the existing dimension,
        # insert new keys, and keep untouched keys verbatim.
        existing = lookup_df(spark, sf)
        cu = _read(spark, sf, "customer").where(F.col("c_custkey") % 4 == 0)
        updates = cu.select(
            F.concat(F.lit("conv-"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")).alias("conv_id"),
            F.concat(F.lit("tool_"), F.lpad((F.col("c_custkey") % 20).cast("string"), 2, "0")).alias("tool"),
            F.concat(F.lit("ns-upd-"), (F.col("c_custkey") % 7).cast("string")).alias("namespace"),
            F.lit(None).cast("string").alias("pod_name"),
            F.lit(None).cast("string").alias("node_name"),
            F.lit("svc-updated").alias("service_name"),
            F.lit(None).cast("array<string>").alias("ips"),
        )
        m = merge_frames(existing, updates, ["conv_id", "tool"])
        return m.select("conv_id", "tool", "namespace", "pod_name",
                        "node_name", "service_name",
                        F.array_join("ips", ",").alias("ips_joined"))
    q["pipe_merge_upsert"] = pipe_merge_upsert

    # -- conversation assembly (turns -> trainable transcripts) ------------
    def pipe_assemble_conversation(spark, sf):
        t = dedup_latest_wins(turns_with_dups(spark, sf))
        a = assemble_conversations(t)
        return a.select("conv_id", "n_turns",
                        F.md5("conversation_text").alias("conv_hash"))
    q["pipe_assemble_conversation"] = pipe_assemble_conversation

    # -- P7 ips-array flatten ----------------------------------------------
    def pipe_ips_flatten(spark, sf):
        t = turns_df(spark, sf).select("conv_id", "tool").distinct()
        lk = lookup_df(spark, sf)
        joined = t.join(lk, on=["conv_id", "tool"])
        return joined.select("conv_id", F.explode("ips").alias("ip")).distinct()
    q["pipe_ips_flatten"] = pipe_ips_flatten

    # -- S5/W2 latest-wins upsert ------------------------------------------
    def pipe_latest_wins(spark, sf):
        ev = _read(spark, sf, "events")
        d = dedup_latest_wins(ev, keys=["user_id"], order_ts="ts", tiebreak="event_id")
        return d.select("user_id", F.col("event_type").alias("last_event_type"),
                        F.col("value").alias("last_value"))
    q["pipe_latest_wins"] = pipe_latest_wins

    # -- sessionization (gap 30 min) ---------------------------------------
    def pipe_sessionize(spark, sf):
        ev = _read(spark, sf, "events")
        s = sessionize(ev, key="user_id", ts_col="ts", order_tiebreak="event_id",
                       gap_seconds=1800)
        return s.groupBy("user_id", "session_id").agg(
            F.count(F.lit(1)).alias("n_events"))
    q["pipe_sessionize"] = pipe_sessionize

    # -- event-time tumbling window (stretch goal, SURVEY §2.5) ------------
    def pipe_tumbling_window(spark, sf):
        ev = _read(spark, sf, "events")
        return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.countDistinct("user_id").alias("n_users"))
                .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00")
                        .alias("window_start"),  # wall-time label: immune to session tz
                        "event_type", "n_events", "n_users"))
    q["pipe_tumbling_window"] = pipe_tumbling_window

    # -- key=value parsing (the second log format every shipper meets):
    # the "code=N k=M" tail of each turn extracted token-by-token and
    # rolled up. Extraction is TOKEN-BOUNDARY and LAST-WINS on both
    # sides, so 'encode=7' never aliases 'code=7', 'code=12x' is NULL
    # (not 12), and duplicate keys can't throw (str_to_map's default
    # mapKeyDedupPolicy=EXCEPTION made the previous formulation depend
    # on fixture text shape — round-3 ADVICE).
    def pipe_parse_kv(spark, sf):
        t = turns_df(spark, sf)

        def kv(key):
            return F.expr(
                f"try_cast(substring(try_element_at(filter(split(text,"
                f" ' +'), t -> t like '{key}=%'), -1),"
                f" {len(key) + 2}) AS BIGINT)")

        code = kv("code")
        k = kv("k")
        return (t.select(code.alias("_code"), k.alias("_k"))
                .where(F.col("_code").isNotNull())
                .groupBy(F.expr("CAST(_code DIV 10 AS BIGINT)")
                          .alias("code_decade"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.coalesce("_k", F.lit(0))).cast("long")
                      .alias("sum_k"),
                     F.sum(F.when(F.col("_k").isNull(), 1).otherwise(0))
                      .cast("long").alias("n_missing_k")))
    q["pipe_parse_kv"] = pipe_parse_kv

    # -- conversation role balance: assistant-share deciles across
    # conversations — the composition-quality signal a transcript
    # training set is screened on (all-assistant or no-assistant
    # conversations are degenerate).
    def pipe_role_balance(spark, sf):
        t = turns_df(spark, sf)
        per = (t.groupBy("conv_id")
               .agg(F.count(F.lit(1)).alias("_n"),
                    F.sum(F.when(F.col("role") == "assistant", 1)
                          .otherwise(0)).alias("_a")))
        dec = F.expr("CAST(least((_a * 10) DIV _n, 9) AS INT)")
        return (per.groupBy(dec.alias("assistant_decile"))
                .agg(F.count(F.lit(1)).alias("n_convs"),
                     F.sum("_n").cast("long").alias("n_turns")))
    q["pipe_role_balance"] = pipe_role_balance

    # -- per-tool usage (reference tool-call accounting): NULL tool is
    # its own 'none' row; counts + distinct conversations per tool.
    def pipe_tool_usage(spark, sf):
        t = turns_df(spark, sf)
        return (t.groupBy(F.coalesce("tool", F.lit("none")).alias("tool"))
                .agg(F.count(F.lit(1)).alias("n_turns"),
                     F.countDistinct("conv_id").cast("long")
                      .alias("n_convs")))
    q["pipe_tool_usage"] = pipe_tool_usage

    # -- capped sessionization (operators/sessionize.py
    # sessionize_capped): gap 30 min OR duration cap 4 h — the
    # sequential split rule no window-function composition expresses;
    # per-key Arrow state machine, recursive-CTE oracle.
    def pipe_sessionize_capped(spark, sf):
        from logging_spark.operators.sessionize import sessionize_capped
        ev = _read(spark, sf, "events")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        d = ev.select("user_id", "event_id", us.alias("us"))
        s = sessionize_capped(d, key="user_id", ts_us_col="us",
                              gap_us=1800 * 1_000_000,
                              max_dur_us=4 * 3600 * 1_000_000,
                              tiebreak="event_id")
        return (s.groupBy("user_id", "session_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     (F.max("us") - F.min("us")).alias("dur_us")))
    q["pipe_sessionize_capped"] = pipe_sessionize_capped

    # -- log-template mining (functions/text.py mask_template): mask
    # variable parts, roll up per template — Drain-lite. Templates are
    # low-cardinality by construction so the agg is map-side combined;
    # raw lines never shuffle (only the masked template string does).
    def pipe_log_templates(spark, sf):
        t = turns_df(spark, sf)
        return (t.select(T.mask_template("text").alias("template"),
                         "conv_id")
                .groupBy("template")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.countDistinct("conv_id").cast("long")
                      .alias("n_convs")))
    q["pipe_log_templates"] = pipe_log_templates

    # -- multiline record assembly (operators/multiline.py): stack
    # traces span lines in real container logs; the S1 file tail ships
    # lines verbatim and the consumer re-assembles (filebeat
    # multiline.pattern). Fixture: every [ERROR] turn emits 2 indented
    # continuation lines after its start line; line_no = turn_idx*4+i
    # keys the per-file order. One per-file window + one groupBy —
    # the file is the unit of parallelism, no global sort.
    def pipe_multiline(spark, sf):
        t = turns_df(spark, sf)
        idx = F.when(F.col("text").rlike(r"\[ERROR\]"),
                     F.array(F.lit(0), F.lit(1), F.lit(2))
                     ).otherwise(F.array(F.lit(0)))
        base = t.select(F.col("conv_id").alias("log_path"),
                        F.col("turn_idx").cast("long").alias("_ti"),
                        "text", F.explode(idx).alias("i"))
        lines = base.select(
            "log_path",
            (F.col("_ti") * 4 + F.col("i")).alias("line_no"),
            F.when(F.col("i") == 0, F.col("text"))
             .when(F.col("i") == 1,
                   F.concat(F.lit("    at f"),
                            (F.col("_ti") % 3).cast("string")))
             .otherwise(F.lit("    at deeper")).alias("line"))
        return (assemble_multiline(lines, file_col="log_path")
                .where(F.col("n_lines") >= 2))
    q["pipe_multiline"] = pipe_multiline

    # -- response latency: per conversation, each user turn paired
    # with the immediately following assistant turn (lead over the
    # turn order — one window shuffle), exact latency quantiles.
    def pipe_response_latency(spark, sf):
        t = turns_df(spark, sf)
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        d = (t.select("conv_id", "turn_idx", "role", us.alias("us"))
             .withColumn("nrole", F.lead("role").over(w))
             .withColumn("nus", F.lead("us").over(w)))
        pairs = (d.where((F.col("role") == "user")
                         & (F.col("nrole") == "assistant"))
                 .select((F.col("nus") - F.col("us")).alias("lat_us")))
        return pairs.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("percentile(CAST(lat_us AS DOUBLE), 0.5)").alias("p50_us"),
            F.expr("percentile(CAST(lat_us AS DOUBLE), 0.95)").alias("p95_us"),
            F.max("lat_us").alias("max_us"))
    q["pipe_response_latency"] = pipe_response_latency

    # -- template-rate alerting: the log-monitoring composition —
    # mask lines to templates, count per (template, hour), Hampel
    # spike flags per template (reuses mask_template + spike_flags
    # unchanged). Raw lines collapse to templates BEFORE the count
    # shuffle; the percentile windows ride one (template) partition.
    def pipe_template_spikes(spark, sf):
        t = turns_df(spark, sf).select(
            T.mask_template("text").alias("template"), "ts")
        return (spike_flags(t, key_col="template", ts_col="ts",
                            period_s=3600)
                .withColumnRenamed("key", "template"))
    q["pipe_template_spikes"] = pipe_template_spikes

    # -- training-example assembly (operators/examples.py): for every
    # assistant turn, the trailing-3-turn context rendered into one
    # prompt string — ONE bounded-frame window, text shuffles once
    def pipe_context_window(spark, sf):
        return context_examples(turns_df(spark, sf), k=3)
    q["pipe_context_window"] = pipe_context_window

    # -- consecutive same-speaker merge (operators/dedup.py): the
    # transcript-normalization block assembly; one shuffle, in-block
    # text order pinned by array_sort over (turn_idx, text) structs
    def pipe_merge_consecutive(spark, sf):
        return merge_consecutive(turns_df(spark, sf)).select(
            "conv_id", "block_idx", "role", "n_turns", "text")
    q["pipe_merge_consecutive"] = pipe_merge_consecutive

    # -- Python UDTF surface (functions/kv_udtf.py): LATERAL key=value
    # expansion, aggregated per key. Deliberately the repo's one
    # row-at-a-time Python path — API coverage, off the hot path.
    def pipe_kv_udtf(spark, sf):
        from logging_spark.functions import kv_udtf
        kv_udtf.register(spark)
        turns_df(spark, sf).createOrReplaceTempView("_turns_kv")
        return spark.sql("""
            SELECT p.key, count(*) AS n,
                   count(DISTINCT p.val) AS n_distinct_vals
            FROM _turns_kv t, LATERAL kv_pairs(t.text) p
            GROUP BY p.key""").select(
                "key", F.col("n").cast("long").alias("n"),
                F.col("n_distinct_vals").cast("long")
                .alias("n_distinct_vals"))
    q["pipe_kv_udtf"] = pipe_kv_udtf

    # -- conversation template-prefix dedup: boilerplate openers.  Each
    # conversation's first 4 turns are masked to templates
    # (mask_template) and chained into running prefix hashes; prefixes
    # shared by >= 2 conversations are reported with the canonical
    # keeper.  The two windows share one (conv_id, turn_idx) sort —
    # a single shuffle; hashes (not text) enter the groupBy.
    def pipe_prefix_dedup(spark, sf):
        t = turns_df(spark, sf)
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        r = (t.withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") <= 4))
        wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        pref = r.select(
            "conv_id", F.col("rn").alias("prefix_len"),
            F.md5(F.concat_ws(
                "\x1f",
                F.collect_list(T.mask_template("text")).over(wp)))
            .alias("prefix_hash"))
        return (pref.groupBy("prefix_len", "prefix_hash")
                .agg(F.count(F.lit(1)).alias("n_convs"),
                     F.min("conv_id").alias("keep_conv"))
                .where(F.col("n_convs") >= 2))
    q["pipe_prefix_dedup"] = pipe_prefix_dedup

    # -- IP-subnet rollup (P7's ips[] projection downstream): /16
    # prefix accounting over the enrichment dimension — the network
    # locality report. explode + split are scan-side; one tiny agg.
    def pipe_ip_subnets(spark, sf):
        lk = lookup_df(spark, sf)
        ip = lk.select(F.explode("ips").alias("ip"))
        sub = F.concat_ws(".", F.split(F.col("ip"), r"\.")[0],
                          F.split(F.col("ip"), r"\.")[1])
        return (ip.select(sub.alias("subnet16"))
                .groupBy("subnet16")
                .agg(F.count(F.lit(1)).alias("n_ips")))
    q["pipe_ip_subnets"] = pipe_ip_subnets

    # -- time-to-first-tool-call: per conversation, how many turns
    # until the first tool turn (the agent-behavior latency metric);
    # -1 when the conversation never calls a tool. One groupBy with
    # conditional-min aggregates — no window, no second pass.
    def pipe_time_to_tool(spark, sf):
        t = turns_df(spark, sf)
        g = t.groupBy("conv_id").agg(
            F.min("turn_idx").alias("_first"),
            F.min(F.when(F.col("role") == "tool", F.col("turn_idx")))
            .alias("_first_tool"))
        ttt = F.when(F.col("_first_tool").isNull(), F.lit(-1))                .otherwise(F.col("_first_tool") - F.col("_first"))
        # bounded rollup: log2 bins of the gap (+2 so -1 and 0 bin
        # distinctly: -1 -> 0, 0 -> 1, 1.. -> length(bin(gap+1)))
        return (g.select(ttt.alias("gap"))
                .groupBy(F.when(F.col("gap") < 0, F.lit(0))
                         .otherwise(F.length(F.bin(F.col("gap") + 1)))
                         .cast("int").alias("gap_bin"))
                .agg(F.count(F.lit(1)).alias("n_convs")))
    q["pipe_time_to_tool"] = pipe_time_to_tool


def register_oracles(o):


    o["pipe_parse_grok"] = "WITH " + TURNS_CTE + r"""
SELECT conv_id, turn_idx,
       regexp_extract(text, '^\[([A-Z]+)\]', 1) AS level,
       regexp_extract(text, '^\[[A-Z]+\]\s+([\w.-]+):', 1) AS component,
       regexp_extract(text, '^\[[A-Z]+\]\s+[\w.-]+:\s+(\S+)', 1) AS message,
       regexp_extract(text, 'code=(\S+)', 1) AS attr_code,
       nullif(regexp_extract(text, 'k=(\S*)', 1), '') AS attr_k
FROM turns"""

    o["pipe_parse_grok_udf"] = o["pipe_parse_grok"]

    o["pipe_dedup_w1"] = "WITH " + DUPS_CTE + """
SELECT conv_id, turn_idx, role, text FROM dedup"""

    o["pipe_enrich_j4"] = "WITH " + TURNS_CTE + "," + LOOKUP_CTE + """
SELECT t.conv_id, t.turn_idx, t.tool,
       coalesce(l.namespace, 'default') AS namespace,
       coalesce(l.pod_name, 'unknown') AS pod_name,
       coalesce(l.node_name, 'unknown') AS node_name,
       coalesce(l.service_name, 'unknown') AS service_name
FROM turns t LEFT JOIN lookup l ON t.conv_id = l.conv_id AND t.tool = l.tool"""

    o["pipe_route_fanout"] = "WITH " + ROUTED_CTE + """
SELECT sink_name, conv_id, turn_idx, role, text FROM routed"""

    o["pipe_route_join"] = o["pipe_route_fanout"]

    o["pipe_sink_counts"] = "WITH " + ROUTED_CTE + """
SELECT sink_name, count(*) AS n_rows,
       count(DISTINCT conv_id) AS n_distinct_conv
FROM routed GROUP BY sink_name"""

    o["pipe_role_rollup"] = "WITH " + ROUTED_CTE + """
SELECT sink_name, role, count(*) AS n_turns FROM routed GROUP BY sink_name, role"""

    o["pipe_unrouted"] = "WITH " + ROUTED_CTE + """
SELECT role, count(*) AS n_rows FROM routed WHERE sink_name = '_unrouted' GROUP BY role"""

    o["pipe_e2e"] = o["pipe_sink_counts"]

    o["pipe_max_offset"] = "WITH " + TURNS_CTE + """
SELECT conv_id, max(turn_idx) AS max_turn FROM turns GROUP BY conv_id"""

    o["pipe_distinct_sinks"] = "WITH " + ROUTED_CTE + """
SELECT DISTINCT sink_name FROM routed"""

    o["pipe_truncate_p2"] = "WITH " + TURNS_CTE + """
SELECT conv_id, turn_idx, substr(text, 1, 20) AS text_trunc,
       CAST(length(text) AS INT) AS n_chars
FROM turns"""

    o["pipe_json_path_p9"] = """
SELECT event_id, event_type, json_extract_string(props, '$.k') AS attr_k FROM events"""

    # the parser's attrs on this corpus is always {"code":C,"k":K}
    # (code=floor(value), k=props.$.k, both numeric strings — no JSON
    # escaping hazards), so Set/Delete results are exact string builds
    o["pipe_json_set_delete"] = "WITH " + TURNS_CTE + r"""
SELECT conv_id, turn_idx,
       regexp_extract(text, '^\[[A-Z]+\]\s+([\w.-]+):', 1) AS component_or_default,
       coalesce(tool, 'none') AS tool_tag,
       'level,component,attrs,tool_tag' AS remaining_fields,
       concat('{"code":"', regexp_extract(text, 'code=(\S+)', 1), '"}')
         AS attrs_without_k,
       concat('{"code":"', regexp_extract(text, 'code=(\S+)', 1),
              '","k":"', regexp_extract(text, 'k=(\S+)', 1),
              '","seen":"1"}') AS attrs_with_seen
FROM turns"""

    o["pipe_merge_upsert"] = "WITH " + LOOKUP_CTE + """,
upd AS (
  SELECT concat('conv-', lpad(CAST(c_custkey AS VARCHAR), 6, '0')) AS conv_id,
         concat('tool_', lpad(CAST(c_custkey % 20 AS VARCHAR), 2, '0')) AS tool,
         concat('ns-upd-', CAST(c_custkey % 7 AS VARCHAR)) AS namespace,
         CAST(NULL AS VARCHAR) AS pod_name,
         CAST(NULL AS VARCHAR) AS node_name,
         'svc-updated' AS service_name,
         CAST(NULL AS VARCHAR[]) AS ips
  FROM customer WHERE c_custkey % 4 = 0)
SELECT coalesce(u.conv_id, l.conv_id) AS conv_id,
       coalesce(u.tool, l.tool) AS tool,
       coalesce(u.namespace, l.namespace) AS namespace,
       coalesce(u.pod_name, l.pod_name) AS pod_name,
       coalesce(u.node_name, l.node_name) AS node_name,
       coalesce(u.service_name, l.service_name) AS service_name,
       array_to_string(coalesce(u.ips, l.ips), ',') AS ips_joined
FROM lookup l FULL JOIN upd u ON l.conv_id = u.conv_id AND l.tool = u.tool"""

    o["pipe_assemble_conversation"] = "WITH " + DUPS_CTE + """
SELECT conv_id, count(*) AS n_turns,
       md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS conv_hash
FROM dedup GROUP BY conv_id"""

    o["pipe_ips_flatten"] = "WITH " + TURNS_CTE + "," + LOOKUP_CTE + """
SELECT DISTINCT conv_id, ip FROM (
  SELECT t.conv_id, unnest(l.ips) AS ip
  FROM (SELECT DISTINCT conv_id, tool FROM turns) t
  JOIN lookup l ON t.conv_id = l.conv_id AND t.tool = l.tool)"""

    o["pipe_latest_wins"] = """
SELECT user_id, event_type AS last_event_type, value AS last_value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1"""

    o["pipe_sessionize"] = """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800 THEN 1
              ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_id
  FROM marked)
SELECT user_id, session_id, count(*) AS n_events
FROM sessions GROUP BY user_id, session_id"""

    o["pipe_tumbling_window"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS window_start,
       event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2"""

    o["pipe_parse_kv"] = "WITH " + TURNS_CTE + r""",
kv AS (
  -- token-boundary, last-wins: mirror of the Spark filter/element_at(-1)
  SELECT TRY_CAST(list_extract(
           [t[6:] FOR t IN string_split_regex(text, ' +') IF t LIKE 'code=%'],
           -1) AS BIGINT) AS code,
         TRY_CAST(list_extract(
           [t[3:] FOR t IN string_split_regex(text, ' +') IF t LIKE 'k=%'],
           -1) AS BIGINT) AS k
  FROM turns)
SELECT code // 10 AS code_decade, count(*) AS n,
       CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_k
FROM kv WHERE code IS NOT NULL
GROUP BY 1"""

    o["pipe_tool_usage"] = "WITH " + TURNS_CTE + """
SELECT coalesce(tool, 'none') AS tool, count(*) AS n_turns,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM turns GROUP BY 1"""

    o["pipe_sessionize_capped"] = """
WITH RECURSIVE idx AS (
  SELECT user_id, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS i
  FROM events),
e(user_id, i, us, sid, start_us) AS (
  SELECT user_id, i, us, CAST(1 AS BIGINT), us FROM idx WHERE i = 1
  UNION ALL
  SELECT x.user_id, x.i, x.us,
         CASE WHEN x.us - e.us > 1800 * CAST(1000000 AS BIGINT)
                OR x.us - e.start_us > 14400 * CAST(1000000 AS BIGINT)
              THEN e.sid + 1 ELSE e.sid END,
         CASE WHEN x.us - e.us > 1800 * CAST(1000000 AS BIGINT)
                OR x.us - e.start_us > 14400 * CAST(1000000 AS BIGINT)
              THEN x.us ELSE e.start_us END
  FROM e JOIN idx x ON x.user_id = e.user_id AND x.i = e.i + 1)
SELECT user_id, sid AS session_id, count(*) AS n_events,
       CAST(max(us) - min(us) AS BIGINT) AS dur_us
FROM e GROUP BY user_id, sid"""

    o["pipe_log_templates"] = "WITH " + TURNS_CTE + r"""
SELECT regexp_replace(
         regexp_replace(
           regexp_replace(text, '[0-9a-f]{8,}', '<HEX>', 'g'),
           '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
         '\d+', '<N>', 'g') AS template,
       count(*) AS n,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM turns GROUP BY 1"""

    # window record-id + ordered string_agg mirror of assemble_multiline
    o["pipe_multiline"] = "WITH " + TURNS_CTE + r""",
lines AS (
  SELECT conv_id AS log_path,
         CAST(turn_idx AS BIGINT) * 4 + u.i AS line_no,
         CASE WHEN u.i = 0 THEN text
              WHEN u.i = 1 THEN concat('    at f',
                                       CAST(turn_idx % 3 AS VARCHAR))
              ELSE '    at deeper' END AS line
  FROM turns, unnest(CASE WHEN regexp_matches(text, '\[ERROR\]')
                          THEN [0, 1, 2] ELSE [0] END) AS u(i)),
tagged AS (
  SELECT log_path, line_no, line,
         coalesce(max(CASE WHEN NOT regexp_matches(line, '^\s')
                           THEN line_no END)
                  OVER (PARTITION BY log_path ORDER BY line_no
                        ROWS UNBOUNDED PRECEDING), -1) AS record_line
  FROM lines)
SELECT log_path, record_line,
       CAST(count(*) AS BIGINT) AS n_lines,
       string_agg(line, chr(10) ORDER BY line_no) AS record_text
FROM tagged GROUP BY 1, 2 HAVING count(*) >= 2"""

    o["pipe_response_latency"] = "WITH " + TURNS_CTE + """,
d AS (
  SELECT conv_id, role, epoch_us(ts) AS us,
         lead(role) OVER w AS nrole,
         lead(epoch_us(ts)) OVER w AS nus
  FROM turns WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
pairs AS (
  SELECT nus - us AS lat_us FROM d
  WHERE role = 'user' AND nrole = 'assistant')
SELECT count(*) AS n_pairs,
       quantile_cont(CAST(lat_us AS DOUBLE), 0.5) AS p50_us,
       quantile_cont(CAST(lat_us AS DOUBLE), 0.95) AS p95_us,
       CAST(max(lat_us) AS BIGINT) AS max_us
FROM pairs"""

    o["pipe_template_spikes"] = "WITH " + TURNS_CTE + r""",
c AS (SELECT regexp_replace(
               regexp_replace(
                 regexp_replace(text, '[0-9a-f]{8,}', '<HEX>', 'g'),
                 '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
               '\d+', '<N>', 'g') AS template,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS period,
             count(*) AS n
      FROM turns GROUP BY 1, 2),
m AS (SELECT *, quantile_cont(CAST(n AS DOUBLE), 0.5)
                  OVER (PARTITION BY template) AS med FROM c),
d AS (SELECT *, quantile_cont(abs(n - med), 0.5)
                  OVER (PARTITION BY template) AS mad FROM m)
SELECT template, period, CAST(n AS BIGINT) AS n, med, mad,
       (n - med) > 3 * mad AS is_spike
FROM d"""

    o["pipe_role_balance"] = "WITH " + TURNS_CTE + """,
per AS (
  SELECT conv_id, count(*) AS n,
         CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
              AS BIGINT) AS a
  FROM turns GROUP BY conv_id)
SELECT CAST(least((a * 10) // n, 9) AS INT) AS assistant_decile,
       count(*) AS n_convs, CAST(sum(n) AS BIGINT) AS n_turns
FROM per GROUP BY 1"""

    o["pipe_context_window"] = "WITH " + TURNS_CTE + """,
r AS (
  SELECT conv_id, turn_idx, role, text,
         coalesce(string_agg(concat(role, ': ', text), chr(10)) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), '') AS context
  FROM turns)
SELECT conv_id, turn_idx, context, text AS target
FROM r WHERE role = 'assistant'"""

    o["pipe_merge_consecutive"] = "WITH " + TURNS_CTE + """,
b AS (
  SELECT conv_id, turn_idx, role, text,
         CASE WHEN lag(role) OVER w IS NULL
                   OR lag(role) OVER w <> role THEN 1 ELSE 0 END AS is_new
  FROM turns
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
r AS (
  SELECT conv_id, turn_idx, role, text,
         sum(is_new) OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS UNBOUNDED PRECEDING) AS block_idx
  FROM b)
SELECT conv_id, CAST(block_idx AS BIGINT) AS block_idx,
       min(role) AS role, count(*) AS n_turns,
       string_agg(text, chr(10) ORDER BY turn_idx) AS text
FROM r GROUP BY conv_id, block_idx"""

    o["pipe_kv_udtf"] = "WITH " + TURNS_CTE + r""",
kv AS (
  SELECT t.tok[1:position('=' IN t.tok) - 1] AS key,
         t.tok[position('=' IN t.tok) + 1:] AS val
  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS tok
        FROM turns) t
  WHERE position('=' IN t.tok) > 1)
SELECT key, count(*) AS n,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct_vals
FROM kv GROUP BY 1"""

    # running template-prefix hash via ordered string_agg window
    o["pipe_prefix_dedup"] = "WITH " + TURNS_CTE + r""",
r AS (
  SELECT conv_id, turn_idx,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '[0-9a-f]{8,}', '<HEX>', 'g'),
             '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
           '\d+', '<N>', 'g') AS tmpl,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM turns),
p AS (
  SELECT conv_id, CAST(rn AS INT) AS prefix_len,
         md5(string_agg(tmpl, chr(31)) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS prefix_hash
  FROM r WHERE rn <= 4)
SELECT prefix_len, prefix_hash, count(*) AS n_convs,
       min(conv_id) AS keep_conv
FROM p GROUP BY 1, 2 HAVING count(*) >= 2"""

    o["pipe_time_to_tool"] = "WITH " + TURNS_CTE + """,
g AS (SELECT conv_id, min(turn_idx) AS f,
             min(CASE WHEN role = 'tool' THEN turn_idx END) AS ft
      FROM turns GROUP BY 1),
gap AS (SELECT CASE WHEN ft IS NULL THEN -1 ELSE ft - f END AS gap
        FROM g)
SELECT CAST(CASE WHEN gap < 0 THEN 0
            ELSE length(bin(gap + 1)) END AS INT) AS gap_bin,
       count(*) AS n_convs
FROM gap GROUP BY 1"""

    o["pipe_ip_subnets"] = "WITH " + LOOKUP_CTE + """,
ip AS (SELECT unnest(ips) AS ip FROM lookup)
SELECT concat(string_split(ip, '.')[1], '.',
              string_split(ip, '.')[2]) AS subnet16,
       count(*) AS n_ips
FROM ip GROUP BY 1"""

    _register_hit_rate_oracle(o)


def _register_hit_rate_oracle(o):
    from logging_spark.contract._fixtures import ROUTED_CTE, TURNS_CTE

    o["pipe_rule_hit_rate"] = "WITH " + ROUTED_CTE + """
, per AS (
  SELECT sink_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM routed GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_turns FROM turns)
SELECT sink_name, n_rows, n_convs, n_turns,
       (n_rows * 1000000) // n_turns AS hit_ppm
FROM per CROSS JOIN tot"""
