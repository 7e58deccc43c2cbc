package graft.core

/** Annotation-side data model, mirroring the reference's SIBR JSON schema
  * (/root/reference/docs/documentation.md:196-242) recast with `uid` = url.
  * `bbox` holds 4 values (x0, y0, x1, y1) or an 8-value corner quad.
  */
final case class AnnLine(id: Int, text: String, bbox: Seq[Int])

final case class AnnEntity(id: Int, label: String, lines: Vector[AnnLine])

final case class AnnRelation(fromId: Int, toId: Int)

final case class AnnDoc(
    uid: String,
    width: Int,
    height: Int,
    entities: Vector[AnnEntity],
    kvEntity: Vector[AnnRelation],
    lineGrouping: Vector[AnnRelation]
)

object AnnLabels {
  val Other = "other"
  val Header = "header"
  val Question = "question"
  val Answer = "answer"
  val All: Vector[String] = Vector(Other, Header, Question, Answer)
}
