package graft.model

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.DeserializationFeature
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** The one JSON codec for the model layer's on-disk documents: the
  * [[TxTable]] log (manifests, checkpoints) and the [[Catalog]]
  * document. Writing is json4s `Serialization.write` of a case class
  * (fields in declaration order) or a list of them — the same codec
  * Spark's `_spark_metadata` log uses.
  *
  * Reading parses the document and matches exact JSON types. A missing
  * field, a `null`, a wrong type, text that is not JSON or anything
  * after the document throws IllegalArgumentException naming the
  * document; nothing reads as a default. json4s `extract` is not used
  * for that reason: it reads a missing or `null` list as empty and `[1]`
  * as `["1"]` — a corrupt log would become a wrong file set, a corrupt
  * catalog an empty one. */
private[model] object JsonDoc {

  def write(doc: AnyRef): String = Serialization.write(doc)(DefaultFormats)

  /** The fields of the JSON object `text`; `what` names it in errors. */
  def obj(text: String, what: String): Fields = parse(text, what) match {
    case o: JObject => new Fields(o, what)
    case v => fail(what, s"expected an object, got ${shown(v)}")
  }

  /** The fields of each object in the JSON array `text`. */
  def objs(text: String, what: String): Seq[Fields] =
    parse(text, what) match {
      case JArray(xs) => xs.zipWithIndex.map {
        case (o: JObject, i) => new Fields(o, s"$what[$i]")
        case (v, i) =>
          fail(s"$what[$i]", s"expected an object, got ${shown(v)}")
      }
      case v => fail(what, s"expected an array, got ${shown(v)}")
    }

  final class Fields private[JsonDoc] (o: JObject, what: String) {
    /** Field `name` through `pf`; missing or not in `pf`'s domain
      * (`want` describes it) throws. */
    private def as[A](name: String, want: String)(
        pf: PartialFunction[JValue, A]): A = {
      val v = o.obj.collectFirst { case (`name`, v) => v }
        .getOrElse(fail(what, s"missing $name"))
      pf.applyOrElse(v, (bad: JValue) =>
        fail(what, s"$name: expected $want, got ${shown(bad)}"))
    }

    def str(name: String): String = as(name, "a string") {
      case JString(s) => s
    }
    def long(name: String): Long = as(name, "a long") {
      case JInt(n) if n.isValidLong => n.toLong
    }
    def int(name: String): Int = as(name, "an int") {
      case JInt(n) if n.isValidInt => n.toInt
    }
    def strs(name: String): Seq[String] = as(name, "an array of strings") {
      case JArray(xs) if xs.forall(_.isInstanceOf[JString]) =>
        xs.collect { case JString(s) => s }
    }
  }

  private val reader = JsonMethods.mapper.readerFor(classOf[JValue])
    .`with`(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def parse(text: String, what: String): JValue =
    try Option(reader.readValue[JValue](text)).getOrElse(JNull)
    catch {
      case NonFatal(e) =>
        val why = String.valueOf(e.getMessage).takeWhile(_ != '\n')
        throw new IllegalArgumentException(s"$what: not JSON: $why", e)
    }

  private def shown(v: JValue): String = JsonMethods.compact(v).take(40)

  private def fail(what: String, why: String): Nothing =
    throw new IllegalArgumentException(s"$what: $why")
}
