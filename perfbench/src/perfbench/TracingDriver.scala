package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DatabaseMetaData, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties

/** JDBC driver for the traced run: `jdbc:perfbench:derby:...` opens the
  * embedded Derby database `jdbc:derby:...` and counts and times every
  * call made on it. `JdbcExec.dialectFor` still picks the Derby dialect
  * for these URLs (anything not PostgreSQL is Derby).
  *
  * Counters (per op, see [[Trace]]): `jdbc.connections`,
  * `jdbc.statements` (every execute, including batch executes),
  * `jdbc.batches`, `jdbc.rows_bound` (rows added to a batch),
  * `jdbc.metadata_calls` and `jdbc.commits`; `jdbc` spans time each
  * call that reaches the database.
  */
final class TracingDriver extends Driver {
  import TracingDriver._

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val inner = "jdbc:" + url.stripPrefix(Prefix)
      val conn = Trace.span("jdbc", "connect") { derby.connect(inner, info) }
      Trace.count("jdbc.connections")
      wrap(classOf[Connection], conn)
    }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("perfbench")
}

object TracingDriver {
  val Prefix = "jdbc:perfbench:"

  private lazy val derby: Driver = DriverManager.getDriver("jdbc:derby:memory:probe")

  private lazy val registered: Unit = DriverManager.registerDriver(new TracingDriver)

  /** Registers the driver once per JVM. */
  def register(): Unit = registered

  /** The traced URL for a plain Derby URL. */
  def traced(url: String): String = Prefix + url.stripPrefix("jdbc:")

  private val executes = Set("execute", "executeQuery", "executeUpdate",
    "executeLargeUpdate")
  private val batchExecutes = Set("executeBatch", "executeLargeBatch")

  private def wrap[T](iface: Class[T], target: T): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new Handler(target)).asInstanceOf[T]

  private final class Handler(target: Any) extends InvocationHandler {
    private def call(m: Method, args: Array[AnyRef]): AnyRef =
      try m.invoke(target, args: _*)
      catch { case e: InvocationTargetException => throw e.getCause }

    private def timed(name: String, m: Method, args: Array[AnyRef]): AnyRef =
      Trace.span("jdbc", name)(call(m, args))

    override def invoke(proxy: Any, m: Method, rawArgs: Array[AnyRef]): AnyRef = {
      val args = if (rawArgs == null) Array.empty[AnyRef] else rawArgs
      val name = m.getName
      target match {
        case _: DatabaseMetaData =>
          if (name.startsWith("get") && m.getReturnType == classOf[java.sql.ResultSet]) {
            Trace.count("jdbc.metadata_calls")
            timed(name, m, args)
          } else call(m, args)
        case _: Statement =>
          if (executes(name)) { Trace.count("jdbc.statements"); timed(name, m, args) }
          else if (batchExecutes(name)) {
            Trace.count("jdbc.statements"); Trace.count("jdbc.batches"); timed(name, m, args)
          } else {
            if (name == "addBatch" && args.isEmpty) Trace.count("jdbc.rows_bound")
            call(m, args)
          }
        case _: Connection =>
          name match {
            case "prepareStatement" =>
              wrap(classOf[PreparedStatement], call(m, args).asInstanceOf[PreparedStatement])
            case "createStatement" =>
              wrap(classOf[Statement], call(m, args).asInstanceOf[Statement])
            case "getMetaData" =>
              wrap(classOf[DatabaseMetaData], call(m, args).asInstanceOf[DatabaseMetaData])
            case "commit" => Trace.count("jdbc.commits"); timed(name, m, args)
            case "rollback" | "close" => timed(name, m, args)
            case _ => call(m, args)
          }
        case _ => call(m, args)
      }
    }
  }
}
