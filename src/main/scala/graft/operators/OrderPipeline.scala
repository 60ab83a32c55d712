package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.OrderModel._

/** The reference's validate-and-enrich pipeline (ref:
  * src/app/order_validator.py:165-221,225-239,241-300) re-expressed as
  * pure, composable column transforms. Every op is `DataFrame =>
  * DataFrame`, built only from codegen'd `functions._` — no UDFs — so the
  * whole pipeline stays inside one WholeStageCodegen span and runs
  * embarrassingly parallel at any scale (it is a narrow map: no shuffle).
  *
  * Documented intended divergences from the reference (SURVEY.md §7.3):
  *  - the reference's price error message prints the *quantity* value
  *    (bug at ref: src/app/order_validator.py:193); we print the price.
  *  - a record with a null `order_date` wedges the reference forever
  *    (KeyError before commit, ref: src/app/order_validator.py:259); our
  *    date normalization is null-safe and such rows flow on.
  *  - unparsable numeric strings are nulled in the typed output columns
  *    (single-typed columns); the original text survives in the error
  *    message, and such rows are invalid and routed accordingly.
  */
object OrderPipeline {

  /** D1 — safe JSON deserialize: bytes/string → struct, null struct on
    * corrupt input (ref: src/app/order_validator.py:57-69). PERMISSIVE
    * `from_json` gives exactly the reference's null-on-corrupt semantics.
    * Corrupt rows are kept (parse_ok=false) so callers can route them.
    */
  def parseOrders(raw: DataFrame, valueCol: String = "value"): DataFrame = {
    // PERMISSIVE from_json yields an all-null struct on malformed input;
    // route the corrupt text into a dedicated column to keep D1's
    // "corrupt vs merely-empty" distinction observable.
    val schemaWithCorrupt = rawOrderSchema.add("_corrupt_record", "string")
    raw
      .withColumn(
        "order",
        from_json(col(valueCol).cast("string"), schemaWithCorrupt,
          Map("columnNameOfCorruptRecord" -> "_corrupt_record"))
      )
      .withColumn("parse_ok", col("order").isNotNull && col("order._corrupt_record").isNull)
      // top-level key set: lets V1 distinguish an ABSENT key from an
      // explicit JSON null ({"price": null}), exactly like the reference's
      // `field not in message` (ref: src/app/order_validator.py:186).
      // null for corrupt input → every field counts as absent.
      .withColumn("present_keys", json_object_keys(col(valueCol).cast("string")))
      .select(col("parse_ok") +: col("present_keys") +:
        RequiredFields.map(f => col(s"order.$f").as(f)): _*)
  }

  // ---- validation ---------------------------------------------------------

  // Bit-exact CPython float() parse-or-null (ref:
  // src/app/order_validator.py:146-163): accepts inf/infinity/nan (any
  // case, signed), PEP 515 underscores, Python's whitespace set; rejects
  // the Java-isms ("1d", hex) that try_cast tolerates. A native codegen'd
  // Expression — see graft.expressions.PyFloat — so it stays inside the
  // pipeline's WholeStageCodegen span like try_cast did.
  private def tryDouble(c: Column): Column = graft.expressions.PyFloat.py_float(c)

  private def numErr(field: String): Column = {
    val d = tryDouble(col(field))
    // an explicit JSON null reaches this check (key present, value null —
    // the reference feeds None to float() and fails the same way, and its
    // f-string renders the value as str(None) = "None"; match it exactly)
    when(d.isNull, concat(lit(s"Field '$field' should be a number, but is of value: "),
        coalesce(col(field), lit("None"))))
      .when(d < 0, lit(s"Field '$field' should be non-negative"))
  }

  /** V1–V4 — validation. Adds:
    *  - `quantity_d`, `price_d`: double coercions (null if unparsable),
    *  - `is_valid`,
    *  - `error_message`: null when valid; "Missing required fields: a, b"
    *    (short-circuits all other checks, ref: :186-188) or the '; '-joined
    *    price-then-quantity errors (ref: :191-212).
    *
    * V1 presence matches the reference's `field not in message`: when the
    * df carries the `present_keys` column (the JSON path, see
    * [[parseOrders]]), a key that is PRESENT with a null value is NOT
    * "missing" — it falls through to number validation, like the
    * reference. Loose-column inputs (no `present_keys`) can't make that
    * distinction, so null ≡ absent there.
    *
    * Error lists are assembled with `concat_ws` (which skips nulls) rather
    * than array + filter higher-order functions: HOF lambdas are
    * CodegenFallback and break WholeStageCodegen for the entire hot
    * projection; with concat_ws the whole validation compiles into one
    * generated-code stage.
    */
  def validateOrders(df: DataFrame): DataFrame = {
    // V1: required-field presence, reference declaration order.
    val hasKeys = df.columns.contains("present_keys")
    def absent(f: String): Column =
      if (hasKeys) !coalesce(array_contains(col("present_keys"), f), lit(false))
      else col(f).isNull
    val missing = concat_ws(", ", RequiredFields.map(f => when(absent(f), lit(f))): _*)
    val errs = concat_ws("; ", numErr("price"), numErr("quantity"))
    df.withColumn("quantity_d", tryDouble(col("quantity")))
      .withColumn("price_d", tryDouble(col("price")))
      .withColumn(
        "error_message",
        when(missing =!= "", concat(lit("Missing required fields: "), missing))
          .when(errs =!= "", errs)
      )
      .withColumn("is_valid", col("error_message").isNull)
  }

  /** E2 — enrichment: total_price = round(quantity*price, 2) with Python
    * `round` semantics, i.e. banker's rounding — Spark `bround` is
    * HALF_EVEN and matches; plain `round` (HALF_UP) does not (ref:
    * src/app/order_validator.py:215). Valid rows only.
    */
  def enrichOrders(df: DataFrame): DataFrame =
    df.withColumn(
      "total_price",
      when(col("is_valid"), bround(col("quantity_d") * col("price_d"), 2))
    )

  /** T3 — date normalization: all-digit `order_date` is days-since-epoch →
    * "yyyy-MM-dd"; anything else (ISO strings, negatives, null) passes
    * through (ref: src/app/order_validator.py:225-239,259-260 — but
    * null-safe, unlike the reference's poison-pill KeyError).
    */
  def normalizeOrderDate(df: DataFrame): DataFrame =
    df.withColumn(
      "order_date",
      when(
        col("order_date").rlike("^[0-9]+$"),
        // date→string cast renders "yyyy-MM-dd" directly (no formatter)
        date_add(to_date(lit("1970-01-01")), col("order_date").try_cast("int")).cast("string")
      ).otherwise(col("order_date"))
    )

  /** Full pipeline on loose (string-typed) order records: validate →
    * enrich → normalize date → typed output columns + routing flags.
    */
  def processOrders(df: DataFrame): DataFrame = {
    val out = normalizeOrderDate(enrichOrders(validateOrders(df)))
    out.select(
      col("order_id").cast("string").as("order_id"),
      col("product_name"),
      col("quantity_d").as("quantity"),
      col("price_d").as("price"),
      col("order_date"),
      col("total_price"),
      col("is_valid"),
      col("error_message")
    )
  }

  /** P1 — the envelope's explicit 6-field projection (ref:
    * src/app/order_validator.py:111-118).
    */
  def projectEnriched(df: DataFrame): DataFrame =
    df.select(EnrichedFields.map(col): _*)

  /** R1 — validity routing for batch plans: (valid, invalid) split off one
    * lineage (ref: src/app/order_validator.py:263-264). The streaming
    * path does not use it: `OrderStream.routeToSinks` splits the
    * micro-batch, a `LogicalRDD` over the already-planned batch that
    * nothing can be pushed into, with one plain `where` per branch.
    *
    * The split goes through a [[graft.expressions.PushdownBarrier]]
    * column: without it, predicate pushdown substitutes `is_valid`'s
    * whole validation tree into a Filter at the scan and re-evaluates the
    * pipeline per branch (measured ~3× the query cost at sf0.1); with the
    * barrier field in the projection (and referenced by the filter, so
    * column pruning keeps it) the Filter stays above and reads the
    * computed flag. See PushdownBarrier's scaladoc for why the field —
    * not the predicate — must carry the barrier.
    */
  def route(df: DataFrame): (DataFrame, DataFrame) = {
    import graft.expressions.PushdownBarrier.barrieredFilter
    (barrieredFilter(df, col("is_valid")), barrieredFilter(df, !col("is_valid")))
  }

  /** K1 — Kafka message key: order_id as string, "unknown" when missing
    * (ref: src/app/order_validator.py:267-269). Equal keys hash to the
    * same partition — the reference's per-order ordering guarantee.
    */
  def kafkaKey: Column = coalesce(col("order_id").cast("string"), lit("unknown"))

  /** [[kafkaKey]] as a `key` column. */
  def withKafkaKey(df: DataFrame): DataFrame = df.withColumn("key", kafkaKey)

  /** E1 — Kafka Connect schema envelope: {"schema": <constant struct
    * decl>, "payload": {...}} (ref: src/app/order_validator.py:95-123).
    * The schema half is a constant literal struct — Catalyst constant-folds
    * it, unlike the reference, which rebuilds it per message.
    */
  def connectEnvelope: Column = {
    val fieldDecl: Seq[(String, String)] = Seq(
      "order_id" -> "string", "product_name" -> "string", "quantity" -> "double",
      "price" -> "double", "order_date" -> "string", "total_price" -> "double"
    )
    // The schema half is a compile-time constant: emit it as a literal
    // string prefix instead of a struct for to_json to re-serialize per
    // row (measured ~20% of the envelope query at sf0.1). Byte-identical
    // to serializing the struct — the envelope golden test pins it.
    val schemaJson =
      """{"schema":{"type":"struct","fields":[""" +
        fieldDecl.map { case (f, t) =>
          s"""{"type":"$t","optional":true,"field":"$f"}"""
        }.mkString(",") +
        """],"optional":false,"name":"enriched_order"},"payload":"""
    val payload = struct(EnrichedFields.map(col): _*)
    concat(lit(schemaJson), to_json(payload, Map("ignoreNullFields" -> "false")), lit("}"))
  }

  /** [[connectEnvelope]] as a `value` column. */
  def toConnectEnvelope(df: DataFrame): DataFrame = df.withColumn("value", connectEnvelope)
}
