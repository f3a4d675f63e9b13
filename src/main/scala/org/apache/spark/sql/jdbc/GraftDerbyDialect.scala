package org.apache.spark.sql.jdbc

import java.sql.Types
import org.apache.spark.sql.types.{DataType, StringType}

/** Spark's Derby dialect, except that a null string binds as VARCHAR.
  * The stock dialect binds it with the CLOB type it creates unsized
  * string columns with, and Derby rejects a CLOB null for a column
  * that `createTableColumnTypes` declared `VARCHAR(n)`; a VARCHAR null
  * is accepted by both column types. Unsized string columns are still
  * created as CLOB. Lives under org.apache.spark.sql.jdbc solely to
  * extend the package-private `DerbyDialect`. */
object GraftDerbyDialect {
  private object VarcharNulls extends DerbyDialect {
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Some(JdbcType("CLOB", Types.VARCHAR))
      case _ => super.getJDBCType(dt)
    }
  }

  /** Replace the stock Derby dialect with this one (idempotent). */
  def install(): Unit = {
    JdbcDialects.unregisterDialect(JdbcDialects.get("jdbc:derby:"))
    JdbcDialects.registerDialect(VarcharNulls)
  }
}
