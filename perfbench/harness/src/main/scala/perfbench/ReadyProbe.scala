package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationStart}

/** Registered into an unmodified CLI run through
  * `-Dspark.extraListeners=perfbench.ReadyProbe`: writes the epoch second at
  * which the SparkContext finished starting to `-Dperfbench.readyFile`, so
  * the runner can split launch-to-ready set-up from the rest of the run. */
class ReadyProbe extends SparkListener {
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    sys.props.get("perfbench.readyFile").foreach { p =>
      Files.writeString(Paths.get(p), (e.time / 1000.0).toString)
    }
}
