package graft.core

/** Vectors built without Scala's generic construction paths, for the
  * per-document kernel.
  */
object Vecs {

  /** The Vector over `a` itself: up to 32 elements, the array becomes the
    * Vector's only node with no copy (`Vector.from` adopts an
    * `ArraySeq.ofRef` over a plain Object array). The caller hands `a`
    * over and never writes it again.
    */
  def adopt[A](a: Array[AnyRef]): Vector[A] =
    Vector.from(scala.collection.immutable.ArraySeq.unsafeWrapArray(a)).asInstanceOf[Vector[A]]
}
