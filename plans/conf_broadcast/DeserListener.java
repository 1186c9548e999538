package probe;

import java.util.concurrent.ConcurrentHashMap;
import java.util.concurrent.atomic.AtomicLongArray;

import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;

/** Prints, per completed stage, the summed task deserialization time. */
public class DeserListener extends SparkListener {
  // per stage: tasks, deser ms, deser cpu ns, run ms, result-ser ms
  private final ConcurrentHashMap<Integer, AtomicLongArray> byStage = new ConcurrentHashMap<>();

  @Override
  public void onTaskEnd(SparkListenerTaskEnd e) {
    if (e.taskMetrics() == null) return;
    AtomicLongArray a = byStage.computeIfAbsent(e.stageId(), k -> new AtomicLongArray(5));
    a.addAndGet(0, 1);
    a.addAndGet(1, e.taskMetrics().executorDeserializeTime());
    a.addAndGet(2, e.taskMetrics().executorDeserializeCpuTime());
    a.addAndGet(3, e.taskMetrics().executorRunTime());
    a.addAndGet(4, e.taskMetrics().resultSerializationTime());
  }

  @Override
  public void onStageCompleted(SparkListenerStageCompleted s) {
    int id = s.stageInfo().stageId();
    AtomicLongArray a = byStage.remove(id);
    if (a == null) return;
    System.err.println("DESER stage=" + id + " tasks=" + a.get(0) + " deser_ms=" + a.get(1)
        + " deser_cpu_ms=" + (a.get(2) / 1000000.0) + " run_ms=" + a.get(3)
        + " name=" + s.stageInfo().name().replace(' ', '_'));
  }
}
