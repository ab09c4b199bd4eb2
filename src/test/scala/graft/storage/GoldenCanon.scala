package graft.storage

import org.apache.spark.sql.types.StructType

/** Canonical, ASCII-only text form of what the metadata readers return:
  * maps and sets sorted, boxed numbers tagged with their runtime type
  * (a default read back as Integer instead of Long differs), strings
  * escaped, case classes with their field names. */
object GoldenCanon {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 || c > 0x7e => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case l: java.lang.Long => s"${l}L"
    case i: java.lang.Integer => s"${i}I"
    case d: java.lang.Double => s"${d}D"
    case b: java.lang.Boolean => b.toString
    case st: StructType => "schema(" + canon(st.json) + ")"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Set[_] => s.toSeq.map(canon).sorted.mkString("Set(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("Array(", ",", ")")
    case o: Option[_] => o.fold("None")(x => "Some(" + canon(x) + ")")
    case p: Product =>
      p.productElementNames.zip(p.productIterator)
        .map { case (n, x) => n + "=" + canon(x) }
        .mkString(p.productPrefix + "(", ",", ")")
    case other => other.getClass.getName + ":" + other.toString
  }
}
