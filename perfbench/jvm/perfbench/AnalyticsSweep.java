package perfbench;

import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;

import scala.Function2;

/**
 * Times passes over a fixed key list of {@code graft.SparkEntry.queries} on
 * one warm session.
 *
 * <pre>
 * AnalyticsSweep &lt;dataDir&gt; &lt;cpus&gt; &lt;seconds&gt; &lt;dumpDir or -&gt; &lt;key,key,...&gt;
 * </pre>
 *
 * Set-up (session start, {@code ExtensionQueries.prebuildPinned} for the
 * listed keys, one untimed warm-up pass) ends with a {@code ready} line. The
 * warm-up pass writes each key's result as Parquet under {@code dumpDir} for
 * the oracle checks, or only counts it when {@code dumpDir} is {@code -}.
 * Then whole passes run until {@code seconds} have elapsed (at least one);
 * each prints a {@code pass} line with its wall time, task CPU and per-key
 * figures. Jobs of pass N, key K carry the job description {@code pN:K}.
 * Every output line is one JSON object.
 */
public final class AnalyticsSweep {

  private static String q(String s) {
    StringBuilder b = new StringBuilder("\"");
    for (char c : s.toCharArray()) {
      if (c == '"' || c == '\\') b.append('\\').append(c);
      else if (c < 0x20) b.append(String.format("\\u%04x", (int) c));
      else b.append(c);
    }
    return b.append('"').toString();
  }

  private static void emit(String json) {
    System.out.println(json);
    System.out.flush();
  }

  @SuppressWarnings("unchecked")
  private static Function2<SparkSession, String, Dataset<Row>> query(String key) {
    return (Function2<SparkSession, String, Dataset<Row>>) graft.SparkEntry.queries().apply(key);
  }

  public static void main(String[] args) throws Exception {
    String dir = args[0];
    int cpus = Integer.parseInt(args[1]);
    double seconds = Double.parseDouble(args[2]);
    String dumpDir = args[3];
    String[] keys = args[4].split(",");

    SparkSession spark = SparkSession.builder()
        .master("local[" + cpus + "]")
        .appName("perfbench-analytics")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.ui.enabled", "false")
        .getOrCreate();
    spark.sparkContext().setLogLevel("WARN");
    CpuListener listener = new CpuListener();
    spark.sparkContext().addSparkListener(listener);
    List<String> errors = new ArrayList<>();
    try {
      scala.collection.immutable.Set<String> wanted =
          scala.Predef$.MODULE$.wrapRefArray(keys).toSet();
      graft.queries.ExtensionQueries.prebuildPinned(spark, dir, scala.Option.apply(wanted));
      Map<String, String> failed = new LinkedHashMap<>();
      if (dumpDir.equals("-")) runPass(spark, listener, dir, keys, "warm", failed);
      else dumpPass(spark, dir, keys, dumpDir, failed);
      emit("{\"event\": \"ready\"}");

      long t0 = System.nanoTime();
      int pass = 0;
      do {
        pass++;
        long p0 = System.nanoTime();
        long c0 = listener.cpuNs();
        String perKey = runPass(spark, listener, dir, keys, "p" + pass, failed);
        emit(String.format("{\"event\": \"pass\", \"pass\": %d, \"wall_ns\": %d, "
            + "\"task_cpu_ns\": %d, \"keys\": {%s}}",
            pass, System.nanoTime() - p0, listener.cpuNs() - c0, perKey));
      } while ((System.nanoTime() - t0) / 1e9 < seconds);

      for (Map.Entry<String, String> e : failed.entrySet())
        errors.add(q(e.getKey()) + ": " + q(e.getValue()));
      emit("{\"event\": \"done\", \"failed\": {" + String.join(", ", errors) + "}}");
    } finally {
      spark.stop();
    }
  }

  /** The warm-up pass when results are checked: each key's result is written
    * as Parquet, next to {@code oracle_sql.json} holding each key's oracle. */
  private static void dumpPass(SparkSession spark, String dir, String[] keys, String dumpDir,
      Map<String, String> failed) throws Exception {
    Files.createDirectories(Paths.get(dumpDir));
    StringBuilder oracles = new StringBuilder("{");
    for (String k : keys) {
      spark.sparkContext().setJobDescription("warm:" + k);
      try {
        query(k).apply(spark, dir).write().mode("overwrite").parquet(dumpDir + "/" + k);
      } catch (Throwable t) {
        failed.put(k, t.toString());
        continue;
      }
      if (oracles.length() > 1) oracles.append(", ");
      oracles.append(q(k)).append(": ")
          .append(q(graft.SparkEntry.oracleSql().get(k).getOrElse(() -> "")));
    }
    spark.sparkContext().setJobDescription(null);
    Files.write(Paths.get(dumpDir, "oracle_sql.json"),
        oracles.append("}").toString().getBytes(StandardCharsets.UTF_8));
  }

  /** One pass over the keys; returns the per-key JSON members. */
  private static String runPass(SparkSession spark, CpuListener listener, String dir,
      String[] keys, String tag, Map<String, String> failed) throws Exception {
    StringBuilder perKey = new StringBuilder();
    for (String k : keys) {
      spark.sparkContext().setJobDescription(tag + ":" + k);
      long c0 = listener.cpuNs();
      long j0 = listener.jobs();
      long t0 = System.nanoTime();
      try {
        query(k).apply(spark, dir).count();
      } catch (Throwable t) {
        failed.putIfAbsent(k, t.toString());
      }
      // let the listener see every task of this key before reading it
      spark.sparkContext().listenerBus().waitUntilEmpty();
      if (perKey.length() > 0) perKey.append(", ");
      perKey.append(String.format("%s: {\"wall_ns\": %d, \"task_cpu_ns\": %d, \"jobs\": %d}",
          q(k), System.nanoTime() - t0, listener.cpuNs() - c0, listener.jobs() - j0));
    }
    spark.sparkContext().setJobDescription(null);
    return perKey.toString();
  }
}
