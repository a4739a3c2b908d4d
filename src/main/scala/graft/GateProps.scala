package graft

/** Size gates that tests override through JVM system properties. A value
  * that is not a whole number falls back to the gate's default and logs a
  * warning naming the property and the value, instead of failing the
  * operation that reads the gate with a bare NumberFormatException.
  */
private[graft] object GateProps {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def long(name: String, default: Long): Long =
    sys.props.get(name).fold(default) { v =>
      v.toLongOption.getOrElse {
        log.warn(s"graft: system property $name=\"$v\" is not a whole " +
          s"number; using the default $default")
        default
      }
    }
}
