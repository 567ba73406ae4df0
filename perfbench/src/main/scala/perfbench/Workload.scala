package perfbench

/** What every workload provides to the run loop in [[Main]]. */
trait Workload {
  /** The seed the inputs are generated from. */
  def seed: Long
  /** Row counts of the generated inputs. */
  def sizes: Gen.Sizes = Gen.sizes
  def tables: Set[String]
  def withChanges: Boolean
  /** Untimed warm-up passes after set-up. */
  def warmPasses: Int
  /** Passes every run times at least, however long they take. */
  def minPasses: Int
  def prepare(h: Harness): Unit
  /** Expected outputs for the checks, computed once after set-up,
    * untimed. */
  def expect(h: Harness): Unit = ()
  def runPass(h: Harness): Unit
  /** Called after every pass, outside its timing. */
  def afterPass(h: Harness): Unit = ()
  def inputProps: Seq[(String, String)]
}
