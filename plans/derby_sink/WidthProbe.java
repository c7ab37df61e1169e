// Export-width probe: plain JDBC into embedded Derby, in the shape of
// Spark's JDBC writer (one connection per writer, READ_UNCOMMITTED, a
// single-row prepared INSERT, executeBatch every 10,000 rows, one commit
// per writer), with JdbcSink's page cache, page size and log buffer.
//
//   java -cp "$SPARK_HOME/jars/*" plans/derby_sink/WidthProbe.java ROWS WRITERS LOCKS DIR [REPS]
//
// LOCKS is `row` (row locks, escalation pinned at 1,000,000 locks),
// `table` (derby.storage.rowLocking=false) or `default` (row locks,
// Derby's escalation to a table lock at 5000 locks per table). Each
// repetition inserts ROWS rows into a fresh table, split evenly over
// WRITERS threads, and prints one line: wall seconds from the first
// insert to the last commit, the table's allocated pages and the heap
// after a GC. Run each LOCKS value in its own JVM: Derby reads the
// properties when it boots.
import java.sql.*;
import java.util.*;
import java.util.concurrent.*;

public class WidthProbe {
  public static void main(String[] a) throws Exception {
    int rows = Integer.parseInt(a[0]), writers = Integer.parseInt(a[1]);
    String locks = a[2], dir = a[3];
    int reps = a.length > 4 ? Integer.parseInt(a[4]) : 3;
    System.setProperty("derby.stream.error.file", dir + "/derby.log");
    System.setProperty("derby.storage.pageCacheSize", "8000");
    System.setProperty("derby.storage.pageSize", "32768");
    System.setProperty("derby.storage.logBufferSize", "1048576");
    switch (locks) {
      case "row": System.setProperty("derby.locks.escalationThreshold", "1000000"); break;
      case "table": System.setProperty("derby.storage.rowLocking", "false"); break;
      case "default": break;
      default: throw new IllegalArgumentException(locks);
    }
    String url = "jdbc:derby:" + dir + "/probedb;create=true";
    ExecutorService pool = Executors.newFixedThreadPool(writers);
    for (int rep = 0; rep < reps; rep++) {
      try (Connection c = DriverManager.getConnection(url); Statement s = c.createStatement()) {
        if (rep > 0) s.execute("DROP TABLE m33x");
        s.execute("CREATE TABLE m33x (age_mil BIGINT, wavelength DOUBLE, flam DOUBLE, is_peculiar INT)");
      }
      int per = rows / writers;
      List<Callable<Void>> tasks = new ArrayList<>();
      for (int w = 0; w < writers; w++) {
        final int seed = w;
        tasks.add(() -> {
          Random r = new Random(seed);
          try (Connection c = DriverManager.getConnection(url)) {
            c.setAutoCommit(false);
            c.setTransactionIsolation(Connection.TRANSACTION_READ_UNCOMMITTED);
            PreparedStatement ps = c.prepareStatement("INSERT INTO m33x VALUES (?, ?, ?, ?)");
            for (int i = 1; i <= per; i++) {
              ps.setLong(1, 10 + r.nextInt(10000));
              ps.setDouble(2, 1000 + r.nextInt(9000000) / 100.0);
              ps.setDouble(3, r.nextInt(100000) / 10.0);
              ps.setInt(4, r.nextInt(2));
              ps.addBatch();
              if (i % 10000 == 0) ps.executeBatch();
            }
            ps.executeBatch();
            c.commit();
          }
          return null;
        });
      }
      long t0 = System.nanoTime();
      for (Future<Void> f : pool.invokeAll(tasks)) f.get();
      double wall = (System.nanoTime() - t0) / 1e9;
      long pages;
      try (Connection c = DriverManager.getConnection(url); Statement s = c.createStatement();
           ResultSet r = s.executeQuery(
             "SELECT NUMALLOCATEDPAGES FROM TABLE (SYSCS_DIAG.SPACE_TABLE('APP', 'M33X')) T " +
             "WHERE ISINDEX = 0")) {
        r.next();
        pages = r.getLong(1);
      }
      System.gc();
      double heapMb = java.lang.management.ManagementFactory.getMemoryMXBean()
        .getHeapMemoryUsage().getUsed() / 1e6;
      System.out.printf("PROBE locks=%s writers=%d rows=%d rep=%d wall_s=%.3f pages=%d heap_mb=%.1f%n",
        locks, writers, rows, rep, wall, pages, heapMb);
    }
    pool.shutdown();
  }
}
