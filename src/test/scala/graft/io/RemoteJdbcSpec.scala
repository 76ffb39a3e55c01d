package graft.io

import graft.SparkSpec

/** Remote-JDBC bridge internals, driven through plain JDBC (no Spark
  * in the loop): proxy forwarding, SQLException passthrough,
  * concurrent sessions, metadata handles, driver URL contract.
  */
class RemoteJdbcSpec extends SparkSpec {

  private def withServer[T](f: (RemoteJdbc.Server, Int) => T): T = {
    val server = new RemoteJdbc.Server(
      s"jdbc:derby:memory:rjdbc_${System.nanoTime()};create=true")
    val port = server.start()
    try f(server, port) finally server.stop()
  }

  test("statement/resultset/metadata round trip over the wire") {
    withServer { (_, port) =>
      val conn = new RemoteJdbcDriver()
        .connect(s"jdbc:graftremote://localhost:$port/", null)
      try {
        val st = conn.createStatement()
        st.executeUpdate("CREATE TABLE t1 (id BIGINT, name VARCHAR(32))")
        st.executeUpdate("INSERT INTO t1 VALUES (1, 'a'), (2, 'b')")
        val rs = st.executeQuery("SELECT id, name FROM t1 ORDER BY id")
        val md = rs.getMetaData // nested handle → nested proxy
        assert(md.getColumnCount == 2)
        assert(md.getColumnName(1).equalsIgnoreCase("id"))
        val rows = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2)))
          .toList
        assert(rows == List((1L, "a"), (2L, "b")))
        rs.close(); st.close()
      } finally conn.close()
    }
  }

  test("server-side SQLExceptions re-throw at the caller with state intact") {
    withServer { (_, port) =>
      val conn = new RemoteJdbcDriver()
        .connect(s"jdbc:graftremote://localhost:$port/", null)
      try {
        val st = conn.createStatement()
        val e = intercept[java.sql.SQLException] {
          st.executeQuery("SELECT * FROM no_such_table")
        }
        assert(e.getSQLState != null && e.getSQLState.nonEmpty)
        // the session must still be usable after a remote error
        st.executeUpdate("CREATE TABLE t2 (x INT)")
        assert(!st.executeQuery("SELECT * FROM t2").next())
      } finally conn.close()
    }
  }

  test("concurrent sessions write to the same embedded database") {
    withServer { (_, port) =>
      val url = s"jdbc:graftremote://localhost:$port/"
      val setup = new RemoteJdbcDriver().connect(url, null)
      setup.createStatement()
        .executeUpdate("CREATE TABLE tc (tid INT, v INT)")
      setup.close()
      val threads = (0 until 4).map { tid =>
        new Thread(() => {
          val c = new RemoteJdbcDriver().connect(url, null)
          try {
            val ps = c.prepareStatement("INSERT INTO tc VALUES (?, ?)")
            (0 until 25).foreach { i =>
              ps.setInt(1, tid); ps.setInt(2, i)
              ps.addBatch()
            }
            ps.executeBatch(); ps.close()
          } finally c.close()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val check = new RemoteJdbcDriver().connect(url, null)
      try {
        val rs = check.createStatement()
          .executeQuery("SELECT count(*) FROM tc")
        assert(rs.next() && rs.getLong(1) == 100L)
      } finally check.close()
    }
  }

  test("frame filter rejects non-allowlisted serialized classes") {
    // A serializable class outside the allowlist (frame classes,
    // java.lang/sql/math/util/time) must be rejected BEFORE readObject
    // allocates it — JEP 290, not post-hoc type checks.
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(EvilFrame("payload")); oos.flush()
    val in = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    in.setObjectInputFilter(RemoteJdbc.frameFilter)
    intercept[java.io.InvalidClassException] { in.readObject() }
    // sanity: a legitimate Reply frame passes the same filter
    val bos2 = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos2)
      .writeObject(RemoteJdbc.Value(java.lang.Long.valueOf(7L)))
    val in2 = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos2.toByteArray))
    in2.setObjectInputFilter(RemoteJdbc.frameFilter)
    assert(in2.readObject().asInstanceOf[RemoteJdbc.Value].v == 7L)
  }

  test("server drops a session that sends a non-allowlisted frame") {
    withServer { (_, port) =>
      val sock = new java.net.Socket("localhost", port)
      try {
        val out = new java.io.ObjectOutputStream(sock.getOutputStream)
        out.flush()
        val in = new java.io.ObjectInputStream(sock.getInputStream)
        out.writeObject(EvilFrame("gadget")); out.flush()
        // the filter kills the session before dispatch: no reply, EOF
        intercept[java.io.IOException] { in.readObject() }
      } finally sock.close()
      // the server must still accept fresh, well-behaved sessions
      val c = new RemoteJdbcDriver()
        .connect(s"jdbc:graftremote://localhost:$port/", null)
      try assert(c.getMetaData.getDatabaseProductName.nonEmpty)
      finally c.close()
    }
  }

  test("server binds the loopback interface only") {
    withServer { (_, port) =>
      import scala.jdk.CollectionConverters._
      val external = java.net.NetworkInterface.getNetworkInterfaces.asScala
        .flatMap(_.getInetAddresses.asScala)
        .find(a => !a.isLoopbackAddress && a.isInstanceOf[java.net.Inet4Address])
      external.foreach { addr =>
        intercept[java.io.IOException] {
          val s = new java.net.Socket()
          try s.connect(new java.net.InetSocketAddress(addr, port), 2000)
          finally s.close()
        }
      }
      // loopback still connects
      val c = new RemoteJdbcDriver()
        .connect(s"jdbc:graftremote://localhost:$port/", null)
      c.close()
    }
  }

  test("closing a statement releases its server-side handle") {
    withServer { (_, port) =>
      val conn = new RemoteJdbcDriver()
        .connect(s"jdbc:graftremote://localhost:$port/", null)
      try {
        val st = conn.createStatement()
        st.executeUpdate("CREATE TABLE th (x INT)")
        st.close()
        // the handle is gone from the session registry: a further call
        // through the stale proxy fails server-side, not silently
        val e = intercept[java.sql.SQLException] {
          st.executeQuery("SELECT * FROM th")
        }
        assert(e.getMessage.contains("stale handle"),
          s"expected stale-handle rejection, got: ${e.getMessage}")
        // and the connection itself remains usable
        val st2 = conn.createStatement()
        assert(!st2.executeQuery("SELECT * FROM th").next())
      } finally conn.close()
    }
  }

  test("closing a closed result set succeeds and keeps the session") {
    withServer { (_, port) =>
      val conn = new RemoteJdbcDriver()
        .connect(s"jdbc:graftremote://localhost:$port/", null)
      try {
        val st = conn.createStatement()
        st.executeUpdate("CREATE TABLE tc (x INT)")
        val rs = st.executeQuery("SELECT * FROM tc")
        // Spark's JDBC read closes a ResultSet twice
        rs.close()
        rs.close()
        st.close()
        assert(!conn.createStatement().executeQuery("SELECT * FROM tc").next())
      } finally conn.close()
    }
  }

  test("driver URL contract: foreign URLs yield null, ours parse") {
    val d = new RemoteJdbcDriver()
    assert(d.acceptsURL("jdbc:graftremote://h:1/"))
    assert(!d.acceptsURL("jdbc:postgresql://h:1/db"))
    assert(d.connect("jdbc:postgresql://h:1/db", null) == null,
      "JDBC contract: a foreign URL returns null, not an error")
  }
}

/** Serializable but deliberately OUTSIDE the bridge's deserialization
  * allowlist — stands in for an attacker-chosen gadget class.
  */
private case class EvilFrame(s: String)
