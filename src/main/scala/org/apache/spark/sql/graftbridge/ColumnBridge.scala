package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, KnownNotNull}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Column ⇄ Expression bridge for the classic backend (the Spark 4 Column is
  * backend-agnostic; converting a raw Catalyst Expression into a Column is
  * `private[sql]`, so library code exposing native expressions needs this
  * one-hop bridge — the standard pattern for Spark extension libraries). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` declared non-nullable: `c` must never be null on the rows it is
    * evaluated for (the caller filters them). The optimizer then infers no
    * `isnotnull` filter on it and drops the ones pushed onto it. */
  def knownNotNull(c: Column): Column = column(KnownNotNull(expression(c)))

  /** A column that calls `owner.method(args…)`, where `owner` is a Scala
    * object: Spark's `StaticInvoke` calls the object's static forwarder
    * directly in generated code and by reflection when interpreted. Each
    * argument comes with the type it must have: analysis casts an argument to
    * it where Spark's implicit coercion allows, and fails otherwise. A null
    * argument yields null without a call; `returnNullable = false` declares
    * that the method never returns null, so the column is nullable only when
    * an argument is. */
  def staticCall(owner: AnyRef, method: String, dataType: DataType,
      args: Seq[(Column, AbstractDataType)], returnNullable: Boolean = true): Column =
    column(StaticInvoke(owner.getClass, dataType, method, args.map(a => expression(a._1)),
      args.map(_._2), propagateNull = true, returnNullable = returnNullable))
}
