package graft.ops

import org.apache.spark.sql.DataFrame

/** U1/U2: multi-source unions (SURVEY.md §2.7).
  *
  * The reference concatenates per-country batches (app/main.py:1329-1331)
  * and catalogs (app/main.py:1216-1239); the PL catalog carries an extra
  * `station_type` column, so the catalog union is schema-reconciling.
  * `unionByName(allowMissingColumns = true)` fills absent columns with
  * null — exactly the reference's dict-shape tolerance. Unions are
  * partition-level concatenation in Spark: no shuffle at any scale.
  */
object Unions {

  /** Schema-reconciling UNION ALL by column name: missing columns become
    * null; later duplicate resolution is A3's job. */
  def unionLoose(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
}
