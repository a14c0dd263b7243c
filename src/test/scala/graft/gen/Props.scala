package graft.gen

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** Runs a property from a fixed seed a fixed number of times, one worker,
  * without shrinking, so every run draws the same cases.
  */
object Props {

  /** Checks `failure` on `count` cases of `gen` drawn from `seed`: None
    * passes a case, Some(message) fails it. A failure throws with the seed,
    * the case and the message.
    */
  def check[T](name: String, gen: Gen[T], seed: Long, count: Int)(failure: T => Option[String]): Unit = {
    val prop = Prop.forAllNoShrink(gen) { t =>
      failure(t).fold(Prop.passed)(m => Prop.falsified :| m)
    }
    val params = Test.Parameters.default
      .withMinSuccessfulTests(count).withInitialSeed(Seed(seed)).withWorkers(1)
    val res = Test.check(params, prop)
    if (!res.passed)
      throw new AssertionError(s"$name failed (seed 0x${seed.toHexString.toUpperCase}, $count cases): " +
        Pretty.pretty(res, Pretty.Params(0)))
  }

  /** `n` values of `gen`, drawn from `seed`. */
  def sample[T](gen: Gen[T], seed: Long, n: Int): Seq[T] =
    Gen.listOfN(n, gen).pureApply(Gen.Parameters.default, Seed(seed))
}
