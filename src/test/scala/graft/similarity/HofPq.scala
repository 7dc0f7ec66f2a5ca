package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed-built-ins form of [[Pq.encode]]: the specification
  * reference that PqSpec compares the native
  * [[graft.functions.expressions.PqEncode]] kernel to. */
object HofPq {

  /** m×k aggregate-over-zip_with distances + a k-struct sort_array per
    * subspace; ascending (d, c) struct order resolves ties to the
    * smallest code. */
  def encode(corpus: DataFrame, idCol: String, mvCol: String,
      cb: Pq.Codebooks): DataFrame = {
    val codeCols = (0 until cb.m).map { s =>
      val sub = slice(col(mvCol), s * cb.subDim + 1, cb.subDim)
      val entries = (0 until cb.k).map { c =>
        struct(Pq.subDist(sub, cb.books(s)(c)).as("d"), lit(c).as("c"))
      }
      sort_array(array(entries: _*)).getItem(0).getField("c")
    }
    corpus.select(col(idCol).as("id"), array(codeCols: _*).as("codes"))
  }
}
