package perfbench;

import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.concurrent.atomic.AtomicLong;

import org.apache.spark.SparkConf;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerApplicationEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerTaskEnd;

/**
 * Counter-only Spark listener: sums task CPU, tasks and jobs. Attached to an
 * unmodified program by configuration ({@code spark.extraListeners}); when
 * {@code spark.perfbench.out} names a file, the totals are written there as
 * one JSON object at application end.
 */
public class CpuListener extends SparkListener {
  private final String out;
  private final AtomicLong cpuNs = new AtomicLong();
  private final AtomicLong tasks = new AtomicLong();
  private final AtomicLong jobs = new AtomicLong();

  public CpuListener(SparkConf conf) {
    this.out = conf.get("spark.perfbench.out", "");
  }

  public CpuListener() {
    this.out = "";
  }

  @Override
  public void onTaskEnd(SparkListenerTaskEnd e) {
    TaskMetrics m = e.taskMetrics();
    tasks.incrementAndGet();
    if (m != null) cpuNs.addAndGet(m.executorCpuTime() + m.executorDeserializeCpuTime());
  }

  @Override
  public void onJobStart(SparkListenerJobStart e) {
    jobs.incrementAndGet();
  }

  @Override
  public void onApplicationEnd(SparkListenerApplicationEnd e) {
    if (out.isEmpty()) return;
    try {
      Files.write(Paths.get(out), json().getBytes(StandardCharsets.UTF_8));
    } catch (IOException ex) {
      throw new RuntimeException(ex);
    }
  }

  public long cpuNs() { return cpuNs.get(); }
  public long jobs() { return jobs.get(); }

  public String json() {
    return String.format("{\"task_cpu_ns\": %d, \"tasks\": %d, \"jobs\": %d}",
        cpuNs.get(), tasks.get(), jobs.get());
  }
}
