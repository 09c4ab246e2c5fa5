package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.DateCodecs

/** Pure `DataFrame => DataFrame` cleaning operators (SURVEY §2.8 F1-F4,
  * §2.2 P3-P4). One function serves both batch and streaming paths —
  * the reference duplicates this logic between its streaming-chunk and
  * tail-batch code (`initial_price_paid_data.py:121-130` vs `:152-162`);
  * here it is declared once and Catalyst plans it wherever it appears.
  *
  * All coercions are null-on-error (`to_date`, `try_cast`), matching the
  * pandas `errors='coerce'` semantics the reference relies on, and every
  * expression is a built-in Catalyst expression — no UDFs — so the whole
  * pipeline stays inside WholeStageCodegen and filters/pruning push to
  * the scan.
  */
object Clean {

  /** The reference's key columns whose null rows are dropped
    * (`initial_price_paid_data.py:126-127`).
    */
  val pricePaidKeyCols: Seq[String] =
    Seq("transaction_unique_identifier", "date_of_transfer", "price", "postcode")

  /** Full price-paid cleaning pipeline over the raw 16-string-column frame:
    *
    *  1. F1 strip `{}` braces from the transaction GUID
    *     (`initial_price_paid_data.py:121-122`);
    *  2. F2 lenient date parse `yyyy-MM-dd HH:mm` → yyyymmdd long +
    *     DateType companion (`:123-124`);
    *  3. F3 lenient numeric parse of price (`:125`);
    *  4. P3 drop rows null in any key column (`:126-127`).
    *
    * The P4 prefix filter is separate ([[oxfordOnly]]) because the initial
    * and monthly DAGs apply it at different points.
    */
  def pricePaid(raw: DataFrame): DataFrame =
    coerced(raw).na.drop(pricePaidKeyCols)

  /** T4 improvement over the reference (which silently drops dirty
    * rows): split the cleaned frame into (clean, rejects) so bad
    * records route to a quarantine sink with a reason column instead of
    * vanishing. One pass each; both share the coerced projection.
    */
  def pricePaidWithRejects(raw: DataFrame): (DataFrame, DataFrame) = {
    val reason = when(col("transaction_unique_identifier").isNull, "null_key")
      .when(col("date_of_transfer").isNull, "bad_date")
      .when(col("price").isNull, "bad_price")
      .when(col("postcode").isNull, "null_postcode")
    val tagged = coerced(raw).withColumn("__reject_reason", reason)
    val clean = tagged.filter(col("__reject_reason").isNull)
      .drop("__reject_reason")
    val rejects = tagged.filter(col("__reject_reason").isNotNull)
      .withColumnRenamed("__reject_reason", "reject_reason")
    (clean, rejects)
  }

  /** Steps 1-3 of [[pricePaid]]: the F1-F3 coercions, no rows dropped. */
  private def coerced(raw: DataFrame): DataFrame = {
    val parsedDate = DateCodecs.lenientDate(col("date_of_transfer"))
    raw
      .withColumn("transaction_unique_identifier",
        regexp_replace(col("transaction_unique_identifier"), "[{}]", ""))
      .withColumn("transfer_date", parsedDate)
      .withColumn("date_of_transfer", DateCodecs.yyyymmdd(parsedDate))
      .withColumn("price", expr("try_cast(price AS double)"))
  }

  /** P4: `postcode.str.startswith("OX")` (`initial_price_paid_data.py:130`).
    * Spark's `startsWith` is already null-safe-false (pandas needed
    * `na=False` for that, `monthly_price_paid_data.py:129`).
    */
  def oxfordOnly(df: DataFrame, prefix: String = "OX"): DataFrame =
    df.filter(col("postcode").startsWith(prefix))

  /** F4: normalize header whitespace (`monthly_price_paid_data.py:118`).
    * With explicit schemas this is a no-op for names; exposed for value
    * trimming where a source needs it.
    */
  def trimColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, trim(col(c))))
}
