package graft.io

import java.io.{EOFException, ObjectInputFilter, ObjectInputStream, ObjectOutputStream}
import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.net.{InetAddress, ServerSocket, Socket}
import java.sql.DriverManager
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Minimal remote-JDBC bridge: makes a PER-JVM embedded database
  * (in-memory Derby — the only JDBC engine on this classpath)
  * servable to OTHER JVMs, so the production distributed
  * [[Jdbc.write]]/[[Jdbc.read]] paths can be exercised with real
  * executor processes writing over TCP. Spark ships derby.jar but not
  * derbynet/derbyclient (the DRDA network server), so the sandbox
  * cannot boot Derby's own server; this bridge is the smallest honest
  * substitute: executors run Spark's REAL JDBC source/sink code — a
  * `java.sql.Driver` obtained via the normal `driver` option, batch
  * inserts, schema probes, commits — and only the wire is ours.
  *
  * Design: dynamic-proxy RMI. The executor-side [[RemoteJdbcDriver]]
  * returns a `java.sql.Connection` PROXY whose every method call is
  * serialized (method name + parameter types + args) to the server;
  * the server reflects the call onto the real embedded connection.
  * Return values that are themselves JDBC interfaces (Statement,
  * ResultSet, metadata…) come back as numbered HANDLES and turn into
  * nested proxies client-side — so the whole JDBC surface forwards
  * without naming any method. SQLExceptions serialize back and
  * re-throw at the caller.
  *
  * One TCP session per Connection (JDBC contract: a connection is
  * single-threaded — Spark uses one per task); the server runs a
  * thread per session, each with its own embedded connection.
  * Same-host test infrastructure, hardened accordingly: the server
  * binds the LOOPBACK interface only, both stream ends install a
  * JEP-290 [[frameFilter]] allowlisting exactly the frame classes +
  * JDBC value types (with depth/reference/array bounds), and errors
  * are re-serialized as portable `java.sql.SQLException`s. Still no
  * auth — NOT a production endpoint (production talks to a real
  * network database; this exists to validate the engine's side of
  * that conversation).
  */
object RemoteJdbc {

  /** Spark picks SQL DDL types by URL-matched dialect; an unknown URL
    * falls back to TEXT/BIT(1) for String/Boolean, which Derby
    * rejects. Registering is idempotent; call once on the Spark
    * driver before writing through the bridge.
    */
  def registerDialect(): Unit =
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(dialect)

  private object dialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    import org.apache.spark.sql.types._
    override def canHandle(url: String): Boolean =
      url != null && url.startsWith("jdbc:graftremote://")
    override def getJDBCType(dt: DataType)
        : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case StringType => Some(org.apache.spark.sql.jdbc
        .JdbcType("VARCHAR(4096)", java.sql.Types.VARCHAR))
      case BooleanType => Some(org.apache.spark.sql.jdbc
        .JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
      case ByteType | ShortType => Some(org.apache.spark.sql.jdbc
        .JdbcType("SMALLINT", java.sql.Types.SMALLINT))
      case _ => None // INTEGER/BIGINT/DOUBLE PRECISION/DECIMAL… are fine
    }
  }

  private[io] case class Call(target: Long, method: String,
                              paramTypes: Array[String],
                              args: Array[AnyRef])
  private[io] sealed trait Reply extends Serializable
  private[io] case class Value(v: AnyRef) extends Reply
  private[io] case class Handle(id: Long, ifaces: Array[String]) extends Reply
  private[io] case class Err(e: Throwable) extends Reply

  private val primitives: Map[String, Class[_]] = Map(
    "int" -> classOf[Int], "long" -> classOf[Long],
    "short" -> classOf[Short], "byte" -> classOf[Byte],
    "boolean" -> classOf[Boolean], "double" -> classOf[Double],
    "float" -> classOf[Float], "char" -> classOf[Char])

  /** Parameter-type resolution for forwarded calls. JDBC method
    * signatures only ever mention primitives, `java.*`/`javax.sql.*`
    * types, and arrays of those — anything else in a Call frame is
    * not a JDBC call, so refuse to load it. This is defense-in-depth
    * on top of the two transport layers that DO exist below: the
    * loopback-only bind in [[Server.start]] and the
    * [[frameFilter]] `ObjectInputFilter` installed on both stream
    * ends — no client-chosen class name reaches Class.forName.
    */
  private def classFor(n: String): Class[_] =
    primitives.getOrElse(n, {
      // array encodings: [B, [I…, [Ljava.lang.String;
      val elem = n.dropWhile(_ == '[')
      val ok =
        elem.length == 1 ||                        // primitive array code
        elem.startsWith("Ljava.") ||               // object array
        elem.startsWith("Ljavax.sql.") ||          // javax.sql array
        (elem == n && (n.startsWith("java.") ||    // plain class name
          n.startsWith("javax.sql.")))             // (jdbcIfaces proxies javax.sql)
      require(ok, s"remote-jdbc: refusing non-JDBC parameter type $n")
      // initialize=false: resolving a signature must not run static code
      Class.forName(n, false, getClass.getClassLoader)
    })

  /** Deserialization allowlist for BOTH wire directions (JEP 290).
    * A frame is only ever a [[Call]] (client→server) or a [[Reply]]
    * (server→client); their transitive serial graphs are the frame
    * case classes themselves, JDBC value types (`java.sql.*` dates,
    * `java.math.BigDecimal`…), `java.lang` boxes/String/Throwable
    * internals, `java.util` collections inside Throwable, and arrays
    * of those. Anything else — or a frame nested/self-referencing
    * beyond sane bounds — is rejected before `readObject` allocates
    * it.
    */
  private[io] val frameFilter: ObjectInputFilter = info => {
    import ObjectInputFilter.Status
    // depth + array bounds are PER-FRAME gadget limits; references()
    // is deliberately unbounded — it accumulates over the stream's
    // whole life (TC_RESET does not clear it), so any cap would trip
    // on a legitimate long batch session, not on an attack
    if (info.depth() > 16 || info.arrayLength() > (1 << 20)) Status.REJECTED
    else {
      var c = info.serialClass()
      if (c == null) Status.UNDECIDED // non-class metadata in the stream
      else {
        while (c.isArray) c = c.getComponentType
        val n = c.getName
        val ok = c.isPrimitive ||
          n.startsWith("graft.io.RemoteJdbc$") ||
          n.startsWith("java.lang.") ||
          n.startsWith("java.sql.") ||
          n.startsWith("java.math.") ||
          n.startsWith("java.util.") ||
          n.startsWith("java.time.")
        if (ok) Status.ALLOWED else Status.REJECTED
      }
    }
  }

  /** Server errors cross the wire as plain `java.sql.SQLException`
    * (embedded-engine subclasses would be rejected by the client's
    * [[frameFilter]], and their serial graphs can drag in arbitrary
    * engine internals). Original class name is preserved in the
    * message, SQLState/errorCode/stack/cause-chain are carried over.
    */
  private def portableError(e: Throwable): Throwable =
    if (e == null) null
    else {
      val n = e.getClass.getName
      val copy = e match {
        case sq: java.sql.SQLException =>
          new java.sql.SQLException(s"$n: ${e.getMessage}",
            sq.getSQLState, sq.getErrorCode)
        case _ => new java.sql.SQLException(s"$n: ${e.getMessage}")
      }
      copy.setStackTrace(e.getStackTrace)
      if (e.getCause != null && (e.getCause ne e))
        copy.initCause(portableError(e.getCause))
      copy
    }

  /** All java.sql / javax.sql interfaces a class implements — the
    * proxy surface for a returned JDBC object.
    */
  private def jdbcIfaces(c: Class[_]): Array[Class[_]] = {
    def walk(k: Class[_]): Seq[Class[_]] =
      if (k == null) Seq.empty
      else k.getInterfaces.toSeq.flatMap(i => i +: walk(i)) ++
        walk(k.getSuperclass)
    walk(c).distinct.filter { i =>
      val p = i.getPackage
      p != null && (p.getName == "java.sql" || p.getName == "javax.sql")
    }.toArray
  }

  // ---- server --------------------------------------------------------

  /** In-process server fronting `embeddedUrl`. `start()` binds an
    * ephemeral LOOPBACK-ONLY port and returns it — the bridge is
    * same-host test infrastructure; nothing off-box may reach the
    * unauthenticated endpoint.
    */
  final class Server(embeddedUrl: String) {
    private var ss: ServerSocket = _
    @volatile private var running = false

    def start(): Int = {
      ss = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
      running = true
      val acceptor = new Thread(() => {
        while (running) {
          try {
            val sock = ss.accept()
            val t = new Thread(() => serve(sock), "graft-rjdbc-session")
            t.setDaemon(true)
            t.start()
          } catch {
            case _: Throwable if !running => () // stop(): normal exit
            case e: Throwable =>
              // transient accept failure (EMFILE, interrupt): log and
              // keep accepting — a dead acceptor with a still-bound
              // socket turns every later connect into a silent hang
              System.err.println(
                s"[remote-jdbc] accept failed, continuing: $e")
              try Thread.sleep(50) catch {
                case _: InterruptedException => ()
              }
          }
        }
      }, "graft-rjdbc-accept")
      acceptor.setDaemon(true)
      acceptor.start()
      ss.getLocalPort
    }

    def stop(): Unit = {
      running = false
      if (ss != null) ss.close()
    }

    private def serve(sock: Socket): Unit = {
      // small request/reply frames: without NODELAY, Nagle + delayed
      // ACK turn every JDBC call into a ~40 ms stall (measured: a
      // 25-row write took seconds)
      sock.setTcpNoDelay(true)
      val objects = new ConcurrentHashMap[Long, AnyRef]()
      val ids = new AtomicLong(1)
      val out = new ObjectOutputStream(sock.getOutputStream)
      out.flush()
      val in = new ObjectInputStream(sock.getInputStream)
      in.setObjectInputFilter(frameFilter)
      try {
        var open = true
        while (open) {
          val call = in.readObject().asInstanceOf[Call]
          val reply: Reply =
            try {
              val result =
                if (call.target == 0L && call.method == "connect")
                  DriverManager.getConnection(embeddedUrl)
                else if (call.method == "close" &&
                    !objects.containsKey(call.target))
                  // closing a closed object is a no-op in JDBC: Spark's
                  // JDBC read closes each ResultSet twice (its row
                  // iterator, then JDBCRDD.close)
                  null
                else {
                  val target = objects.get(call.target)
                  require(target != null, s"stale handle ${call.target}")
                  val m = target.getClass.getMethod(call.method,
                    call.paramTypes.map(classFor): _*)
                  m.setAccessible(true) // impl classes may be package-private
                  m.invoke(target, call.args: _*)
                }
              result match {
                case null => Value(null)
                case r if jdbcIfaces(r.getClass).nonEmpty =>
                  val id = ids.getAndIncrement()
                  objects.put(id, r)
                  Handle(id, jdbcIfaces(r.getClass).map(_.getName))
                case r: java.io.Serializable => Value(r.asInstanceOf[AnyRef])
                case r => Err(new java.sql.SQLException(
                  s"remote-jdbc: unsupported return ${r.getClass}"))
              }
            } catch {
              case e: InvocationTargetException => Err(portableError(e.getCause))
              case e: Throwable => Err(portableError(e))
            }
          out.writeObject(reply)
          out.flush()
          out.reset() // mutable JDBC objects must not be cached by ref
          // successful close: a root connection ends the session; any
          // other handle (Statement/ResultSet/metadata…) is released
          // from the registry so long sessions don't pin dead objects
          if (call.method == "close" && !reply.isInstanceOf[Err]) {
            if (objects.get(call.target).isInstanceOf[java.sql.Connection])
              open = false
            else objects.remove(call.target)
          }
        }
      } catch {
        case _: EOFException => () // client went away: normal teardown
        case _: java.net.SocketException => ()
      } finally {
        objects.forEach { (_, o) =>
          try o match {
            case c: java.sql.Connection => c.close()
            case _ => ()
          } catch { case _: Throwable => () }
        }
        sock.close()
      }
    }
  }

  // ---- client --------------------------------------------------------

  private final class Session(host: String, port: Int) {
    private val sock = new Socket(host, port)
    sock.setTcpNoDelay(true)
    private val out = new ObjectOutputStream(sock.getOutputStream)
    out.flush()
    private val in = new ObjectInputStream(sock.getInputStream)
    in.setObjectInputFilter(RemoteJdbc.frameFilter)

    def invoke(target: Long, m: Method, args: Array[AnyRef]): AnyRef =
      this.synchronized {
        out.writeObject(Call(target, m.getName,
          m.getParameterTypes.map(_.getName),
          if (args == null) Array.empty else args))
        out.flush()
        out.reset()
        in.readObject().asInstanceOf[Reply] match {
          case Value(v) => v
          case Handle(id, ifaces) => proxyFor(this, id, ifaces)
          case Err(e) =>
            if (m.getName == "close") close() // session is done either way
            throw e
        }
      }

    def close(): Unit = try sock.close() catch { case _: Throwable => () }
  }

  private def proxyFor(session: Session, id: Long,
                       ifaces: Array[String]): AnyRef = {
    val classes = ifaces.map(Class.forName(_))
    Proxy.newProxyInstance(getClass.getClassLoader, classes,
      new InvocationHandler {
        override def invoke(proxy: AnyRef, m: Method,
                            args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "hashCode" => Integer.valueOf(id.hashCode())
            case "equals" => java.lang.Boolean.valueOf(proxy eq args(0))
            case "toString" =>
              s"graft-remote-jdbc handle $id (${ifaces.head})"
            case _ =>
              val r = session.invoke(id, m, args)
              // root connection close ends the TCP session
              if (m.getName == "close" &&
                  classes.exists(_ == classOf[java.sql.Connection]))
                session.close()
              r
          }
      })
  }

  private[io] def connect(host: String, port: Int): java.sql.Connection = {
    val session = new Session(host, port)
    val m = classOf[java.sql.Driver]
      .getMethod("connect", classOf[String], classOf[java.util.Properties])
    // target 0 + "connect" is the root call; paramTypes are ignored
    session.invoke(0L, m, Array[AnyRef](null, null))
      .asInstanceOf[java.sql.Connection]
  }
}

/** `java.sql.Driver` for `jdbc:graftremote://host:port/` — what the
  * executor-side Spark JDBC source instantiates via its normal
  * `driver` option. Public no-arg constructor: Spark's DriverRegistry
  * wraps and registers it.
  */
final class RemoteJdbcDriver extends java.sql.Driver {
  private val UrlRe = "jdbc:graftremote://([^:/]+):(\\d+).*".r

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:graftremote://")

  override def connect(url: String,
                       info: java.util.Properties): java.sql.Connection =
    url match {
      case UrlRe(host, port) => RemoteJdbc.connect(host, port.toInt)
      case _ => null // JDBC contract: not ours → null, not throw
    }

  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String, info: java.util.Properties)
      : Array[java.sql.DriverPropertyInfo] = Array.empty
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}
