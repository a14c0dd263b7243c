package layerbench

import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

/** JSON text of maps, sequences and scalars (json4s, from the Spark jars). */
object Json {
  def write(v: Any): String = JsonMethods.compact(Extraction.decompose(v)(DefaultFormats))
}
