package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge over `private[sql]` Spark internals (the standard pattern
  * for Spark-native extension libraries): Column ⇄ catalyst Expression,
  * runtime function registration and the CSV source's line parse.
  * Everything else in this repo stays on public API.
  */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
                       info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)

  /** The rows of one CSV file's lines as Spark's CSV scan parses them
    * (`TextInputCSVDataSource.readFile`): header check, blank lines
    * skipped, then `parser` per line under its parse mode. */
  def parseCsvLines(lines: Iterator[String], parser: UnivocityParser, header: CSVHeaderChecker,
                    schema: StructType): Iterator[InternalRow] =
    UnivocityParser.parseIterator(lines, parser, header, schema)
}
