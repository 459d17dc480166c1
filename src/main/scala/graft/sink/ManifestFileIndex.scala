package graft.sink

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** The file set of one resolved sink snapshot, handed to Spark's file
  * scan as-is: the manifest already named every directory and
  * [[TableManifest]] already listed them, so this index does no I/O.
  *
  * `dirs` holds one entry per directory with its partition values (one
  * `__bucket` int for a bucket dir, empty for an unpartitioned
  * deletion-vector read) and its data files. Static partition filters
  * prune directories the way Spark's own file index does (the
  * predicate is evaluated against each directory's values), so bucket
  * filters still show as `PartitionFilters` and still skip files.
  *
  * Equality is over the root directories, the convention of Spark's
  * `InMemoryFileIndex`: the directories are immutable, so equal roots
  * mean equal files, and two reads of the same snapshot compare equal —
  * which is what lets `ReuseExchange` and the cache manager match them.
  */
private[sink] final class ManifestFileIndex(
    dirs: Seq[(InternalRow, Path, Seq[FileStatus])],
    override val partitionSchema: StructType) extends FileIndex {

  override val rootPaths: Seq[Path] = dirs.map(_._2)

  private def allFiles: Seq[FileStatus] = dirs.flatMap(_._3)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val names = partitionSchema.fieldNames.toSet
    val pruning = partitionFilters.filter(_.references.forall(a => names(a.name)))
    val keep: InternalRow => Boolean =
      if (pruning.isEmpty) _ => true
      else Predicate.createInterpreted(pruning.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      }).eval
    dirs.collect { case (values, _, files) if keep(values) =>
      PartitionDirectory(values, files.map(FileStatusWithMetadata(_)))
    }
  }

  override def inputFiles: Array[String] = allFiles.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = allFiles.map(_.getLen).sum

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => rootPaths.toSet == o.rootPaths.toSet
    case _                    => false
  }

  override def hashCode(): Int = rootPaths.toSet.hashCode()
}
