package graft.ops

import graft.{D, Tables}
import graft.QueryDefs.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}

/** SURVEY.md §2.7 scalar-function packs, one themed query per pack.
  *
  * All expressions are Spark built-ins (codegen'd, whole-stage fused — no
  * UDFs), so each query is a single scan→project→sort pipeline with the
  * projection pushed into the vectorized Parquet reader. The work here is
  * dialect pinning (§7.3 item 6), the main cross-engine traps being:
  *   - day-of-week numbering: Spark `weekday` is 0=Monday, DuckDB `isodow`
  *     is 1=Monday → emit weekday+1.
  *   - integer widths: DuckDB `year`/`length`/`date_diff` return BIGINT
  *     where Spark returns INT → cast the Spark side to long.
  *   - `floor`/`ceil`: Spark returns BIGINT, DuckDB DOUBLE → cast DuckDB.
  *   - double→int casts: Spark truncates, DuckDB rounds → oracle uses
  *     CAST(trunc(x) AS BIGINT).
  *   - libm functions (ln, log10, sqrt): not guaranteed bitwise-equal
  *     across runtimes → round(x, 6); per-row +-*× arithmetic is IEEE-exact
  *     and stays unrounded.
  */
object Scalars {

  private val propsMap = MapType(StringType, IntegerType)

  val queries: Map[String, Q] = Map(
    "fn_string" -> ((s, dir) =>
      Tables.table(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        length(col("c_name")).cast("long").as("len"),
        substring(col("c_name"), 1, 8).as("sub"),
        concat(col("c_mktsegment"), lit("#"), col("c_name")).as("cat"),
        regexp_replace(col("c_name"), "Customer#", "C").as("repl"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("pad"),
        col("c_name").startsWith("Customer").as("sw"),
        col("c_mktsegment").endsWith("RY").as("ew"))
        .orderBy("c_custkey")),

    "fn_date" -> ((s, dir) =>
      Tables.table(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        (weekday(col("o_orderdate")) + 1).cast("long").as("dow_iso"),
        date_trunc("month", col("o_orderdate")).as("mon_ts"),
        date_format(date_add(to_date(col("o_orderdate")), 30), "yyyy-MM-dd")
          .as("plus30"),
        datediff(to_date(col("o_orderdate")),
                 lit("1995-01-01").cast("date")).cast("long")
          .as("days_since"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy("o_orderkey")),

    "fn_math" -> ((s, dir) =>
      Tables.table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("absd"),
        floor(col("l_extendedprice")).as("flr"),
        ceil(col("l_extendedprice")).as("cl"),
        round(sqrt(col("l_extendedprice")), 6).as("sqp"),
        round(log(col("l_extendedprice")), 6).as("lnp"),
        round(log10(col("l_extendedprice")), 6).as("l10"),
        pow(col("l_quantity"), 2).as("qsq"),
        (col("l_orderkey") % 7).as("m7"),
        signum(col("l_discount") - 0.05).cast("int").as("sgn"),
        greatest(col("l_tax"), col("l_discount")).as("gr"),
        least(col("l_tax"), col("l_discount")).as("ls"))
        .orderBy("l_orderkey", "l_linenumber")),

    "fn_array" -> ((s, dir) => {
      val toks = Words.raw
      Tables.table(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        array_contains(toks, "data").as("has_data"),
        element_at(array_sort(toks), 1).as("first_tok"),
        array_join(slice(array_sort(toks), 1, 3), ",").as("first3"),
        aggregate(toks, lit(0L), (acc, x) => acc + length(x).cast("long"))
          .as("sum_len"),
        size(filter(toks, x => length(x) > 4)).cast("long").as("n_long"),
        size(array_distinct(toks)).cast("long").as("n_uniq"))
        .orderBy("doc_id")
    }),

    "fn_map" -> ((s, dir) => {
      val m = from_json(col("props"), propsMap)
      Tables.events(s, dir).select(
        col("event_id"),
        array_join(map_keys(m), ",").as("keys"),
        element_at(m, "k").cast("long").as("kval"),
        array_join(transform(map_values(m), v => v.cast("string")), ",")
          .as("vals"))
        .orderBy("event_id")
    }),

    "fn_json" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        to_json(struct(get_json_object(col("props"), "$.k").cast("int")
          .as("k"))).as("rt"))
        .orderBy("event_id")),

    // Spark 4 VARIANT — the semi-structured type replacing stringly JSON:
    // parse ONCE, typed-access many times (each get_json_object re-parses
    // the string; variant_get walks the binary encoding). try_parse_json
    // models the dirty-input path (malformed → NULL, not a crashed job).
    // All map-side expression work; the oracle replays against DuckDB's
    // JSON type, which the VALUES (not the encodings) must match.
    "fn_variant" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT event_id,
        |  variant_get(v, '$.k', 'long') AS k,
        |  variant_get(v, '$.missing', 'long') IS NULL AS no_m,
        |  try_parse_json('nope' || props) IS NULL AS bad_is_null,
        |  variant_get(parse_json('{"a":{"b":[1,2,3]}}'), '$.a.b[1]',
        |    'long') AS nested
        |FROM (SELECT event_id, props, parse_json(props) AS v FROM events)
        |ORDER BY event_id""".stripMargin)
    }),

    // Data-governance surface: masking, keyed hashing, and column-level
    // encryption — what a PII-bearing lake column actually gets. mask()
    // preserves shape (upper→X, lower→x, digit→n); sha2-256 is the
    // deterministic pseudonymization key; AES round-trips prove the
    // encrypt path without the ciphertext ever reaching the oracle
    // (GCM's random IV makes ciphertext nondeterministic BY DESIGN — the
    // declared output is the decrypt(encrypt(x)) == x flag plus the
    // plaintext digest, both engine-replayable).
    "fn_data_masking" -> ((s, dir) => {
      val key = lit("0123456789abcdef") // 16-byte demo key (AES-128)
      Tables.table(s, dir, "customer")
        .select(col("c_custkey"),
          mask(col("c_name")).as("masked"),
          sha2(col("c_name"), 256).as("pseudo"),
          (aes_decrypt(
            aes_encrypt(col("c_name").cast("binary"), key),
            key).cast("string") === col("c_name")).as("rt_ok"))
        .orderBy("c_custkey")
    }),

    // Spark 4 COLLATION — case-insensitive comparison/grouping as a TYPE
    // property (UTF8_LCASE) instead of lower()-wrapping every call site:
    // the collation rides the plan (group keys, joins, sorts all honor
    // it). The group representative Spark returns for a collated key is
    // partition-order-dependent, so the OUTPUT key is min(x) — a
    // deterministic member of the case-class — never the raw collated
    // key. Oracle replays with lower() grouping: same classes, same
    // counts, same min.
    "fn_collation" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      // r21: pre-aggregate on the BINARY o_orderpriority before the
      // collated group — the collation-aware (ICU lowercase) hash ran
      // over 3×|orders| exploded strings; it now runs over 3×|priorities|
      // (15 rows). Exact identity: every variant x is a function of the
      // priority alone, so the collated class counts are Σ of the
      // per-priority counts and min(x) ranges over the same value set.
      // The collated GROUP BY — the declared surface — is unchanged.
      s.sql("""WITH p AS (
        |  SELECT o_orderpriority AS pr, count(*) AS pn
        |  FROM orders GROUP BY o_orderpriority),
        |v AS (
        |  SELECT explode(array(upper(pr), lower(pr),
        |    concat(upper(substring(pr, 1, 3)),
        |           lower(substring(pr, 4))))) AS x, pn
        |  FROM p)
        |SELECT min(x) AS rep, sum(pn) AS n
        |FROM v GROUP BY collate(x, 'UTF8_LCASE')
        |ORDER BY rep""".stripMargin)
    }),

    // try_cast of a non-numeric string → null, surfaced via coalesce so the
    // declared output stays null-free for the hash compare.
    "fn_cast_conditional" -> ((s, dir) =>
      Tables.table(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_totalprice").cast("long").as("price_int"),
        col("o_orderkey").cast("double").as("key_dbl"),
        col("o_orderkey").cast("string").as("key_str"),
        coalesce(expr("try_cast(o_orderpriority AS INTEGER)"), lit(-1))
          .cast("long").as("bad_int"),
        expr("try_cast(substring(o_orderpriority, 1, 1) AS INTEGER)")
          .cast("long").as("pri_num"))
        .orderBy("o_orderkey")),

    // Generator shape: one row → many token rows (GenerateExec), then the
    // usual two-phase count — the heavy explode happens before the shuffle,
    // only (token, partial count) pairs cross the wire.
    "explode_udtf_shape" -> ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(explode(Words.raw).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)),

    // Bitwise surface: and/or/xor, shifts, popcount — all codegen'd
    // primitive ops (ids here are non-negative, so arithmetic >> in both
    // engines agrees).
    "fn_bitwise" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        col("user_id").bitwiseAND(lit(255L)).as("band"),
        col("user_id").bitwiseOR(lit(4096L)).as("bor"),
        col("user_id").bitwiseXOR(col("event_id")).as("bxor"),
        shiftleft(col("user_id"), 3).as("shl"),
        shiftright(col("user_id"), 2).as("shr"),
        bit_count(col("user_id")).cast("long").as("bits"))
        .orderBy("event_id")),

    // Cryptographic content hashing — the fingerprint primitive every
    // dedup/partition/lineage pipeline leans on (stable across engines,
    // unlike xxhash64/`hash` whose seeds are implementation-specific).
    // Both digests are codegen'd single-pass over the text bytes; a
    // truncated prefix doubles as a compact 64-bit shard/fingerprint key.
    "fn_hash" -> ((s, dir) =>
      Tables.table(s, dir, "documents").select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("h_md5"),
        sha2(col("text").cast("binary"), 256).as("h_sha256"),
        substring(sha2(col("text").cast("binary"), 256), 1, 16).as("h_pfx"))
        .orderBy("doc_id")),

    // Regex pack beyond fn_string's single extract: extract-all (the
    // tokenizer/scraper primitive), match counting, boolean match, and
    // class-replace masking. All four are codegen'd single-pass scans —
    // the per-row cost is the regex automaton, not Spark — and the
    // patterns are pinned to the ASCII subset where Java regex and RE2
    // (the oracle's engine) agree: plain classes, \b on [a-z] word
    // boundaries, no backrefs, no Unicode case folding.
    "fn_regexp" -> ((s, dir) =>
      Tables.table(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(col("text"), "\\b(s[a-z]+)", 1).as("first_s"),
        array_join(regexp_extract_all(col("text"), lit("\\b([a-z]{3})\\b"), lit(1)), "|")
          .as("all3"),
        regexp_count(col("text"), lit("[aeiou]{2}")).cast("long").as("n_vv"),
        col("text").rlike("scan").as("has_scan"),
        regexp_replace(col("text"), "[aeiou]", "*").as("masked"))
        .orderBy("doc_id")),

    // Nested-type surface: build a two-level struct + array, navigate it
    // with field access, and serialize it — the declared output is the
    // compact JSON encoding (both engines emit identical `{"k":v}` text
    // for string/long/array fields) because the driver's hasher can't
    // take struct cells. All struct work is codegen'd CreateNamedStruct/
    // GetStructField — no shuffle, no serialization until to_json.
    "fn_struct" -> ((s, dir) => {
      val nested = struct(
        col("o_orderkey").as("key"),
        col("o_orderstatus").as("status"),
        struct(col("o_custkey").as("id")).as("cust"),
        array(substring(col("o_orderpriority"), 1, 1),
          col("o_orderstatus")).as("flags"))
      Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), to_json(nested).as("doc"),
          nested.getField("cust").getField("id").as("cust_id"))
        .orderBy("o_orderkey")
    }),

    // Edit-distance similarity — the fuzzy-match primitive for catalog /
    // entity reconciliation (near-identical product names, typo'd keys).
    // Compared pairs come from a WINDOW over (brand, partkey) — each row
    // against its predecessor in its brand — so the pair count is exactly
    // N-|brands|, never the all-pairs cross join an unconstrained fuzzy
    // match degenerates to; at 100 TB the same shape holds (one shuffle
    // on the partition key, linear pair mass). levenshtein() is a
    // codegen'd dynamic-program per pair; the normalized similarity
    // divides two exact ints so the IEEE quotient is engine-identical.
    "fn_edit_distance" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("p_brand").orderBy("p_partkey")
      Tables.table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_name"),
          lag(col("p_name"), 1).over(w).as("prev_name"))
        .where(col("prev_name").isNotNull)
        .select(col("p_partkey"), col("p_brand"), col("p_name"),
          col("prev_name"),
          levenshtein(col("p_name"), col("prev_name")).cast("long").as("lev"),
          D.r6(lit(1.0) - levenshtein(col("p_name"), col("prev_name")) /
            greatest(length(col("p_name")), length(col("prev_name"))))
            .as("sim"))
        .orderBy("p_partkey")
    })
  )

  val oracles: Map[String, String] = Map(
    "fn_string" ->
      ("SELECT c_custkey, upper(c_name) AS up, lower(c_mktsegment) AS lo, " +
       "CAST(length(c_name) AS BIGINT) AS len, " +
       "substring(c_name, 1, 8) AS sub, " +
       "c_mktsegment || '#' || c_name AS cat, " +
       "replace(c_name, 'Customer#', 'C') AS repl, " +
       "regexp_extract(c_name, '([0-9]+)', 1) AS digits, " +
       "lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS pad, " +
       "starts_with(c_name, 'Customer') AS sw, " +
       "ends_with(c_mktsegment, 'RY') AS ew " +
       "FROM customer ORDER BY c_custkey"),
    "fn_date" ->
      ("SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo, " +
       "day(o_orderdate) AS dom, isodow(o_orderdate) AS dow_iso, " +
       "date_trunc('month', o_orderdate) AS mon_ts, " +
       "strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30, " +
       "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since, " +
       "strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom, " +
       "CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s " +
       "FROM orders ORDER BY o_orderkey"),
    "fn_math" ->
      ("SELECT l_orderkey, l_linenumber, abs(l_discount - 0.05) AS absd, " +
       "CAST(floor(l_extendedprice) AS BIGINT) AS flr, " +
       "CAST(ceil(l_extendedprice) AS BIGINT) AS cl, " +
       "round(sqrt(l_extendedprice), 6) AS sqp, " +
       "round(ln(l_extendedprice), 6) AS lnp, " +
       "round(log10(l_extendedprice), 6) AS l10, " +
       "power(l_quantity, 2) AS qsq, l_orderkey % 7 AS m7, " +
       "CAST(sign(l_discount - 0.05) AS INTEGER) AS sgn, " +
       "greatest(l_tax, l_discount) AS gr, least(l_tax, l_discount) AS ls " +
       "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "fn_array" ->
      ("SELECT doc_id, " +
       s"CAST(len(${Words.RawSql}) AS BIGINT) AS n_tok, " +
       s"list_contains(${Words.RawSql}, 'data') AS has_data, " +
       s"list_sort(${Words.RawSql})[1] AS first_tok, " +
       s"array_to_string(list_slice(list_sort(${Words.RawSql}), 1, 3), ',') AS first3, " +
       s"CAST(list_sum(list_transform(${Words.RawSql}, x -> length(x))) AS BIGINT) AS sum_len, " +
       s"CAST(len(list_filter(${Words.RawSql}, x -> length(x) > 4)) AS BIGINT) AS n_long, " +
       s"CAST(len(list_distinct(${Words.RawSql})) AS BIGINT) AS n_uniq " +
       "FROM documents ORDER BY doc_id"),
    "fn_map" ->
      ("SELECT event_id, array_to_string(json_keys(props), ',') AS keys, " +
       "CAST(json_extract_string(props, '$.k') AS BIGINT) AS kval, " +
       "array_to_string(list_transform(json_keys(props), " +
       "k -> json_extract_string(props, '$.' || k)), ',') AS vals " +
       "FROM events ORDER BY event_id"),
    "fn_json" ->
      ("SELECT event_id, " +
       "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, " +
       "CAST(to_json({'k': CAST(json_extract_string(props, '$.k') AS INTEGER)}) AS VARCHAR) AS rt " +
       "FROM events ORDER BY event_id"),
    "fn_variant" ->
      ("SELECT event_id, " +
       "CAST(json_extract(props, '$.k') AS BIGINT) AS k, " +
       "json_extract(props, '$.missing') IS NULL AS no_m, " +
       "try_cast('nope' || props AS JSON) IS NULL AS bad_is_null, " +
       "CAST(json_extract('{\"a\":{\"b\":[1,2,3]}}', '$.a.b[1]') AS BIGINT) " +
       "AS nested FROM events ORDER BY event_id"),
    "fn_data_masking" ->
      // mask() replayed as the three shape-preserving regex classes;
      // sha2-256 hex matches DuckDB's sha256; the AES pair collapses to
      // a constant TRUE on the oracle side — that IS the contract.
      ("SELECT c_custkey, " +
       "regexp_replace(regexp_replace(regexp_replace(c_name, " +
       "'[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') " +
       "AS masked, " +
       "sha256(c_name) AS pseudo, TRUE AS rt_ok " +
       "FROM customer ORDER BY c_custkey"),
    "fn_collation" ->
      ("WITH v AS (SELECT unnest([upper(o_orderpriority), " +
       "lower(o_orderpriority), " +
       "upper(substring(o_orderpriority, 1, 3)) || " +
       "lower(substring(o_orderpriority, 4))]) AS x FROM orders) " +
       "SELECT min(x) AS rep, count(*) AS n " +
       "FROM v GROUP BY lower(x) ORDER BY rep"),
    "fn_cast_conditional" ->
      ("SELECT o_orderkey, " +
       "CAST(trunc(o_totalprice) AS BIGINT) AS price_int, " +
       "CAST(o_orderkey AS DOUBLE) AS key_dbl, " +
       "CAST(o_orderkey AS VARCHAR) AS key_str, " +
       "CAST(coalesce(TRY_CAST(o_orderpriority AS INTEGER), -1) AS BIGINT) AS bad_int, " +
       "CAST(TRY_CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS BIGINT) AS pri_num " +
       "FROM orders ORDER BY o_orderkey"),
    "explode_udtf_shape" ->
      ("SELECT token, count(*) AS cnt FROM " +
       s"(SELECT unnest(${Words.RawSql}) AS token FROM documents) " +
       "GROUP BY token ORDER BY cnt DESC, token LIMIT 20"),
    // DuckDB spells xor as a function (its ^ is exponentiation)
    "fn_bitwise" ->
      ("SELECT event_id, user_id & 255 AS band, user_id | 4096 AS bor, " +
       "xor(user_id, event_id) AS bxor, user_id << 3 AS shl, " +
       "user_id >> 2 AS shr, CAST(bit_count(user_id) AS BIGINT) AS bits " +
       "FROM events ORDER BY event_id"),
    "fn_hash" ->
      ("SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256, " +
       "substring(sha256(text), 1, 16) AS h_pfx " +
       "FROM documents ORDER BY doc_id"),
    "fn_regexp" ->
      ("SELECT doc_id, regexp_extract(text, '\\b(s[a-z]+)', 1) AS first_s, " +
       // array_to_string(NULL-free empty list) is NULL in DuckDB where
       // Spark's array_join yields '' — coalesce pins the '' contract
       "coalesce(array_to_string(regexp_extract_all(text, '\\b([a-z]{3})\\b', 1), '|'), '') AS all3, " +
       "CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT) AS n_vv, " +
       "regexp_matches(text, 'scan') AS has_scan, " +
       "regexp_replace(text, '[aeiou]', '*', 'g') AS masked " +
       "FROM documents ORDER BY doc_id"),
    "fn_struct" ->
      ("SELECT o_orderkey, to_json(struct_pack(key := o_orderkey, " +
       "status := o_orderstatus, cust := struct_pack(id := o_custkey), " +
       "flags := [substring(o_orderpriority, 1, 1), o_orderstatus])) AS doc, " +
       "o_custkey AS cust_id FROM orders ORDER BY o_orderkey"),
    "fn_edit_distance" ->
      ("SELECT p_partkey, p_brand, p_name, prev_name, " +
       "CAST(levenshtein(p_name, prev_name) AS BIGINT) AS lev, " +
       "round(1.0 - levenshtein(p_name, prev_name) / " +
       "greatest(length(p_name), length(prev_name)), 6) AS sim " +
       "FROM (SELECT p_partkey, p_brand, p_name, " +
       "lag(p_name) OVER (PARTITION BY p_brand ORDER BY p_partkey) AS prev_name " +
       "FROM part) WHERE prev_name IS NOT NULL ORDER BY p_partkey")
  )
}
