package graft.wrapper

/** Parameter substitution for the query surface.
  *
  * The reference (exasol/etl-utils `query_wrapper.sql:40`, README:43–57)
  * supports two substitution forms, both resolved by the host engine's
  * `pquery`:
  *   - `:NAME`  — a *value* parameter, bound as data.
  *   - `::NAME` — an *identifier* parameter, spliced as a schema/table/column
  *     name (e.g. `::TMP_LOG_TABLE`, `::SCH.::TAB`).
  *
  * Spark ≥3.4 natively supports `:NAME` via `spark.sql(sql, args)`; the
  * identifier splice is performed here, pre-parse, exactly like the original
  * does it before handing the text to the engine. The splice drives off
  * [[SqlTokens.tokenize]] so `::x` inside string literals, quoted identifiers
  * or comments is left untouched (the host engine's substitution operates on
  * parsed tokens, never inside literals).
  */
object Params {

  private val SafeIdent = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Backtick-quote an identifier unless it is already a safe bare name.
    * Mirrors the README's `quote()` helper (reference README.md:43–44),
    * translated from Exasol double-quotes to Spark backticks. */
  def quote(ident: String): String = ident match {
    case SafeIdent() => ident
    case other       => "`" + other.replace("`", "``") + "`"
  }

  /** Splice `::NAME` identifier parameters into the SQL text. Works in any
    * identifier position, including two-part `::SCH.::TAB` (README.md:46).
    * Occurrences inside string literals, quoted identifiers and comments are
    * NOT spliced. Unknown identifier params raise — matching the host-engine
    * behaviour of failing the statement rather than passing `::x` through.
    */
  def spliceIdentifiers(sql: String, params: Map[String, Any]): String = {
    // Case-insensitive lookup: Exasol identifiers are case-insensitive.
    val byUpper = params.map { case (k, v) => k.toUpperCase -> v }
    SqlTokens.tokenize(sql).map {
      case SqlTokens.Token(SqlTokens.IdentParam, text) =>
        val name = text.drop(2)
        byUpper.get(name.toUpperCase) match {
          case Some(v) => quote(String.valueOf(v))
          case None =>
            throw new IllegalArgumentException(
              s"identifier parameter ::$name is not bound")
        }
      case t => t.text
    }.mkString
  }

  /** Names of `:NAME` value parameters referenced in the SQL (outside
    * literals/comments), after identifier splice. Lets the wrapper bind only
    * the params a statement actually uses. */
  def valueParamNames(sql: String): Set[String] =
    SqlTokens.tokenize(sql).collect {
      case SqlTokens.Token(SqlTokens.ValueParam, text) => text.drop(1)
    }.toSet
}
