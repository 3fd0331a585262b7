package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.connector.catalog.CatalogManager
import org.apache.spark.util.HadoopFSUtils

/** The private[sql]/private[spark] facts a rule needs to resolve
  * `` parquet.`path` `` exactly as Spark's `ResolveSQLOnFile` would, and
  * the session extensions to register it on — same rationale as
  * [[DatasetBridge]].
  */
object SqlOnFileBridge {

  /** The extensions `s` and every `s.newSession()` build their session
    * state from. */
  def extensions(s: SparkSession): SparkSessionExtensions =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].extensions

  /** A listed name Spark's file index drops (`_`/`.` prefixes bar the
    * summary files, `._COPYING_` suffixes). */
  def hiddenFile(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** Whether `DataSource` expands `path` as a glob pattern. */
  def globPath(path: String): Boolean = SparkHadoopUtil.get.isGlobPath(new Path(path))

  /** Whether `ResolveRelations`, which runs before `ResolveSQLOnFile`,
    * could find a table under the two-part name `first`.`x`: `first` is a
    * registered catalog or a session-catalog database, or the current
    * catalog is not the session catalog. */
  def namesCatalogObject(s: SparkSession, first: String): Boolean = {
    val cm = s.sessionState.catalogManager
    cm.currentCatalog.name != CatalogManager.SESSION_CATALOG_NAME ||
      cm.isCatalogRegistered(first) || s.sessionState.catalog.databaseExists(first)
  }
}
