package org.apache.spark.sql.graft

import org.apache.spark.rdd.InputFileBlockHolder
import org.apache.spark.unsafe.types.UTF8String

/** Re-export of the `private[spark]` [[InputFileBlockHolder]]: the file block
  * (path and start offset) a file-source scan is reading on this thread, the
  * state behind `input_file_name()`. Same package-scope pattern as
  * [[ColumnBridge]]; no logic beyond the two reads.
  */
object InputFileBlock {
  def path: UTF8String = InputFileBlockHolder.getInputFilePath
  def start: Long = InputFileBlockHolder.getStartOffset
}
