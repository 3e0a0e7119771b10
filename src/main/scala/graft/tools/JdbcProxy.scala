package graft.tools

import java.io.{ObjectInputFilter, ObjectInputStream, ObjectOutputStream}
import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy => JProxy}
import java.net.{InetAddress, ServerSocket, Socket}
import java.sql.{Driver, DriverManager, DriverPropertyInfo, SQLException}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** Reflective JDBC remoting shim — multi-JVM TEST infrastructure, not
  * a data-path component.
  *
  * Why it exists: the container ships only EMBEDDED Derby (no
  * derbynet/derbyclient), and an embedded database is per-JVM — its
  * boot lock admits exactly one process, so under
  * `local-cluster[2,8,...]` the q101 JDBC round-trip used to be
  * exempted (each executor JVM would otherwise write to its own
  * private empty store). This shim closes that hole WITHOUT touching
  * the code under test: a socket server in the driver JVM holds the
  * real embedded connection; executors connect through
  * [[JdbcProxyDriver]] (`jdbc:graftproxy://host:port/`), discovered
  * via the standard `META-INF/services/java.sql.Driver` mechanism, so
  * `DriverManager.getConnection` in [[graft.sinks.JdbcUpsert]] and
  * Spark's own `spark.read.jdbc` partition readers work unchanged
  * against a genuinely out-of-process database.
  *
  * Protocol: one socket per proxied Connection; each call ships
  * (objectId, declaring interface, method, args) via Java
  * serialization and returns a value, a remote-object ref (wrapped
  * client-side in a dynamic proxy typed by the method's declared
  * return type), or an exception (rethrown as SQLException). All
  * JDBC interface types (`java.sql.*` interfaces: Connection,
  * Statement, PreparedStatement, ResultSet, *MetaData, ...) proxy
  * generically through reflection — no per-interface code.
  */
object JdbcProxy {

  private val servers = new ConcurrentHashMap[String, String]()

  /** Start (once per target URL) a proxy server delegating to the
    * embedded database at `targetUrl`; returns the proxy JDBC URL.
    */
  def serve(targetUrl: String): String =
    servers.computeIfAbsent(targetUrl, { t =>
      // explicit registration: DriverManager's own ServiceLoader scan
      // runs over the SYSTEM classloader, which sees neither sbt's
      // layered test loader nor an executor's spark.jars loader — the
      // META-INF/services entry only covers flat-classpath deploys.
      // Registering here covers this JVM (the Spark driver: q101's
      // getDriver(url) resolution and the spec's direct connects);
      // executors get the class through Spark's DriverRegistry on the
      // read path and JdbcUpsert's ServiceLoader fallback on the
      // write path.
      DriverManager.registerDriver(new JdbcProxyDriver)
      // loopback-only: under local-cluster every executor is
      // same-host, so there is no reason to accept off-host
      // connections into a reflective dispatch endpoint
      val ss = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
      val acceptor = new Thread(() => acceptLoop(ss, t), s"jdbc-proxy-$t")
      acceptor.setDaemon(true)
      acceptor.start()
      s"jdbc:graftproxy://localhost:${ss.getLocalPort}/"
    })

  private def acceptLoop(ss: ServerSocket, targetUrl: String): Unit =
    while (true) {
      val sock = ss.accept()
      sock.setTcpNoDelay(true) // request/reply: Nagle + delayed ACK cost ~40 ms per call
      val h = new Thread(() => handle(sock, targetUrl), "jdbc-proxy-conn")
      h.setDaemon(true)
      h.start()
    }

  /** Deserialization allow-list for the request stream: JDBC call
    * arguments are strings, boxed primitives, primitive arrays and
    * the java.sql value classes — nothing else may instantiate.
    * Primitive arrays filter on their (primitive) component type,
    * which no pattern rejects, so the depth/array limits bound them.
    */
  private val requestFilter: ObjectInputFilter = {
    // NO maxrefs: the reference counter is cumulative over the
    // stream's lifetime, and one proxied Connection serves thousands
    // of calls on one long-lived stream (measured: the 4096 cap
    // rejected every request after ~2k calls, surfacing to the
    // executor as a bare broken pipe). maxdepth/maxarray are
    // per-object and do bound each request; the class allow-list is
    // the actual security boundary.
    // maxarray=16M, not 64K: a proxied setBytes/batch argument over
    // the cap is REJECTED mid-stream and the client only ever sees a
    // broken pipe — the same silent size cliff the maxrefs fix
    // removed. The class allow-list is the security boundary; the
    // array cap only needs to bound memory per request.
    val pattern = ObjectInputFilter.Config.createFilter(
      "maxdepth=8;maxarray=16777216;" +
        "java.lang.*;java.math.*;java.sql.*;java.util.Date;!*")
    // wrap for diagnosability: a rejected request otherwise surfaces
    // to the client as a bare "broken pipe"
    info => {
      val st = pattern.checkInput(info)
      if (st == ObjectInputFilter.Status.REJECTED)
        System.err.println(s"[jdbc-proxy] filter rejected class=" +
          s"${info.serialClass} depth=${info.depth} refs=${info.references}")
      st
    }
  }

  /** One handler per client Connection: objectId 0 is "connect". */
  private def handle(sock: Socket, targetUrl: String): Unit = {
    val out = new ObjectOutputStream(sock.getOutputStream)
    val in = new ObjectInputStream(sock.getInputStream)
    in.setObjectInputFilter(requestFilter)
    val objects = new ConcurrentHashMap[java.lang.Long, AnyRef]()
    val nextId = new AtomicLong(1)
    try {
      while (true) {
        val objId = in.readLong()
        val declaring = in.readUTF()
        val name = in.readUTF()
        val types = in.readObject().asInstanceOf[Array[String]]
        val args = in.readObject().asInstanceOf[Array[AnyRef]]
        val reply: (Char, AnyRef) =
          try {
            val result =
              if (objId == 0L && name == "connect")
                DriverManager.getConnection(targetUrl)
              else {
                val target = objects.get(Long.box(objId))
                if (target == null)
                  throw new SQLException(s"stale proxy object id $objId")
                val cls = Class.forName(declaring)
                cls.getMethod(name, types.map(classFor): _*)
                  .invoke(target, args: _*)
              }
            // a closed JDBC object never receives another call —
            // evict it so the per-connection object table is bounded
            // by LIVE statements/result sets, not every one created
            if (name == "close" && objId != 0L)
              objects.remove(Long.box(objId))
            result match {
              case null => ('v', null)
              case r if isJdbcInterfaceInstance(r) =>
                val id = nextId.getAndIncrement()
                objects.put(Long.box(id), r)
                ('r', Long.box(id))
              case r => ('v', r)
            }
          } catch {
            case e: InvocationTargetException => ('e', describe(e.getCause))
            case e: Throwable => ('e', describe(e))
          }
        out.writeChar(reply._1)
        out.writeObject(reply._2)
        // drop the serialization handle table: without reset() the
        // stream retains a strong ref to every value ever written on
        // this socket — an O(rows-proxied) leak per connection
        out.reset()
        out.flush()
      }
    } catch {
      case e: java.io.IOException => // client went away: close its objects
        // a filter rejection (InvalidClassException IS an IOException)
        // must be diagnosable, not silent — the client only ever sees
        // "broken pipe" after this path runs
        if (e.isInstanceOf[java.io.ObjectStreamException])
          System.err.println(s"[jdbc-proxy] request stream rejected: $e")
        objects.values.forEach {
          case c: java.sql.Connection => try c.close() catch { case NonFatal(_) => () }
          case _ => ()
        }
        try sock.close() catch { case NonFatal(_) => () }
    }
  }

  /** (message, sqlState, errorCode) — enough for callers that branch
    * on SQLException (the upsert's probe path, q101's DROP guard).
    */
  private def describe(e: Throwable): AnyRef = e match {
    case s: SQLException => Array[AnyRef](s.toString, s.getSQLState,
      Int.box(s.getErrorCode))
    case other => Array[AnyRef](other.toString, null, Int.box(0))
  }

  private def isJdbcInterfaceInstance(r: AnyRef): Boolean =
    jdbcInterfacesOf(r.getClass).nonEmpty

  private[tools] def jdbcInterfacesOf(c: Class[_]): Seq[Class[_]] = {
    def all(k: Class[_]): Seq[Class[_]] =
      if (k == null) Nil
      else k.getInterfaces.toSeq.flatMap(i => i +: all(i)) ++ all(k.getSuperclass)
    all(c).distinct.filter(_.getName.startsWith("java.sql."))
  }

  private[tools] def classFor(name: String): Class[_] = name match {
    case "int" => java.lang.Integer.TYPE
    case "long" => java.lang.Long.TYPE
    case "short" => java.lang.Short.TYPE
    case "byte" => java.lang.Byte.TYPE
    case "boolean" => java.lang.Boolean.TYPE
    case "double" => java.lang.Double.TYPE
    case "float" => java.lang.Float.TYPE
    case "char" => java.lang.Character.TYPE
    case "void" => java.lang.Void.TYPE
    case other => Class.forName(other)
  }
}

/** The client half: a real `java.sql.Driver` for
  * `jdbc:graftproxy://host:port/` URLs, auto-discovered by
  * DriverManager's ServiceLoader scan (META-INF/services) in every
  * JVM that has the application jar — which under local-cluster is
  * exactly the executor JVMs (`spark.jars`).
  */
final class JdbcProxyDriver extends Driver {

  override def acceptsURL(url: String): Boolean =
    url != null && url.startsWith("jdbc:graftproxy://")

  override def connect(url: String, info: Properties): java.sql.Connection = {
    if (!acceptsURL(url)) return null // per JDBC contract
    val hostPort = url.stripPrefix("jdbc:graftproxy://").stripSuffix("/")
    val Array(host, port) = hostPort.split(":")
    val sock = new Socket(host, port.toInt)
    sock.setTcpNoDelay(true)
    val chan = new JdbcProxyChannel(sock)
    chan.call(0L, classOf[Driver].getName, "connect",
      Array.empty, Array.empty) match {
      case ('r', id: java.lang.Long) =>
        JdbcProxyChannel.wrap(chan, id, classOf[java.sql.Connection])
          .asInstanceOf[java.sql.Connection]
      case other => throw new SQLException(s"proxy connect failed: $other")
    }
  }

  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String,
      info: Properties): Array[DriverPropertyInfo] = Array.empty
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}

/** One socket = one remote Connection and its sub-objects; calls are
  * serialized on the channel (JDBC objects are used single-threaded
  * per task, the lock is cheap insurance).
  */
private[tools] final class JdbcProxyChannel(sock: Socket) {
  private val out = new ObjectOutputStream(sock.getOutputStream)
  private val in = new ObjectInputStream(sock.getInputStream)

  def call(objId: Long, declaring: String, name: String,
      types: Array[String], args: Array[AnyRef]): (Char, AnyRef) =
    synchronized {
      out.writeLong(objId)
      out.writeUTF(declaring)
      out.writeUTF(name)
      out.writeObject(types)
      out.writeObject(args)
      out.reset() // see the server-side note: bounds the handle table
      out.flush()
      val tag = in.readChar()
      (tag, in.readObject())
    }

  def close(): Unit =
    synchronized { try sock.close() catch { case NonFatal(_) => () } }
}

private[tools] object JdbcProxyChannel {

  /** Client-side dynamic proxy for remote object `id` exposing JDBC
    * interface `iface`; method calls forward over the channel, refs
    * in replies wrap recursively typed by the method's declared
    * return type.
    */
  def wrap(chan: JdbcProxyChannel, id: Long, iface: Class[_]): AnyRef =
    JProxy.newProxyInstance(iface.getClassLoader, Array(iface),
      new InvocationHandler {
        override def invoke(proxy: AnyRef, method: Method,
            args: Array[AnyRef]): AnyRef = {
          method.getName match {
            case "toString" if method.getParameterCount == 0 =>
              return s"JdbcProxy($id:${iface.getSimpleName})"
            case "hashCode" if method.getParameterCount == 0 =>
              return Int.box(id.hashCode)
            case "equals" if method.getParameterCount == 1 =>
              return Boolean.box(proxy eq args(0))
            case "unwrap" => throw new SQLException("unwrap unsupported")
            case "isWrapperFor" => return Boolean.box(false)
            case _ => ()
          }
          val types = method.getParameterTypes.map(_.getName)
          val a = if (args == null) Array.empty[AnyRef] else args
          val reply = chan.call(id, method.getDeclaringClass.getName,
            method.getName, types, a)
          // Connection.close() ends this socket's useful life: close
          // it so the client doesn't leak a socket per connection and
          // the server's handler thread unblocks (its IOException
          // path also closes any still-open server-side objects)
          if (method.getName == "close" && method.getParameterCount == 0 &&
              iface == classOf[java.sql.Connection])
            chan.close()
          reply match {
            case ('v', v) => v
            case ('r', rid: java.lang.Long) =>
              val rt = method.getReturnType
              val target =
                if (rt.isInterface && rt.getName.startsWith("java.sql.")) rt
                else throw new SQLException(
                  s"proxy ref for non-JDBC return type ${rt.getName}")
              wrap(chan, rid, target)
            case ('e', desc: Array[AnyRef]) =>
              throw new SQLException(String.valueOf(desc(0)),
                desc(1).asInstanceOf[String],
                desc(2).asInstanceOf[java.lang.Integer].intValue)
            case other => throw new SQLException(s"bad proxy reply: $other")
          }
        }
      })
}
