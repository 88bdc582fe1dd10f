package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import PyLiteral._
import DslCasts._

/** UDF wrappers for the python-literal-dependent DSL casts.
  *
  * Only the string-input paths need these (a python literal embedded in a
  * string value cannot be parsed by builtins); array/numeric inputs are
  * cast with Spark built-ins and stay codegen'd. Errors return null —
  * the reference collects per-variable failures and skips them (F11,
  * ref: scicat_dataset.py:421-427), so null is the engine's error channel.
  */
object PyUdfs {

  private def opt[A](e: Either[String, A]): Option[A] = e.toOption

  /** to_string_array on a string input (ref: scicat_dataset.py:46-49). */
  val pyStringArray: UserDefinedFunction = udf { (s: String) =>
    if (s == null) None
    else opt(convert(PyStr(s), DStringArr)).collect {
      case PyList(items) => items.map(pyStr)
    }
  }

  /** to_integer_array on a string input — strict int parse
    * (`"['1.2']"` fails, ref: tests/test_scicat_dataset.py:42-43). */
  val pyIntegerArray: UserDefinedFunction = udf { (s: String) =>
    if (s == null) None
    else opt(convert(PyStr(s), DIntegerArr)).collect {
      case PyList(items) => items.collect { case PyInt(i) => i }
    }
  }

  /** to_float_array on a string input. */
  val pyFloatArray: UserDefinedFunction = udf { (s: String) =>
    if (s == null) None
    else opt(convert(PyStr(s), DFloatArr)).collect {
      case PyList(items) => items.collect { case PyFloat(d) => d }
    }
  }

  /** to_list on a string input — elements rendered with python str(). */
  val pyListOfStrings: UserDefinedFunction = udf { (s: String) =>
    if (s == null) None
    else opt(convert(PyStr(s), DList)).collect {
      case PyList(items) => items.map(pyStr)
    }
  }

  /** to_dict on a string input — map<string,string> projection. */
  val pyDictOfStrings: UserDefinedFunction = udf { (s: String) =>
    if (s == null) None
    else opt(convert(PyStr(s), DDict)).collect {
      case PyDict(items) => items.map { case (k, v) => pyStr(k) -> pyStr(v) }.toMap
    }
  }

  /** join_with_space operator on a string input: literal_eval then
    * `", ".join(...)` — members must be strings (ref: scicat_dataset.py:156-163). */
  val pyJoinWithSpace: UserDefinedFunction = udf { (s: String) =>
    if (s == null) None
    else parse(s).toOption.flatMap {
      case PyList(items) =>
        val strs = items.collect { case PyStr(x) => x }
        if (strs.length == items.length) Some(strs.mkString(", ")) else None
      case PyStr(chars) => Some(chars.toSeq.mkString(", ")) // str iterates chars
      case _ => None
    }
  }

  /** to_date on a string input (ref: scicat_dataset.py:72-79). */
  val pyIsoDate: UserDefinedFunction = udf { (s: String) =>
    if (s == null) None else parseIso(s).toOption
  }

  /** to_date on an epoch-seconds input. */
  val pyEpochIso: UserDefinedFunction = udf { (d: java.lang.Double) =>
    if (d == null) None else Some(epochToIso(d.doubleValue()))
  }

}
