package graft

/** Root of the reference catalog checkout whose own test resources the
  * golden specs (ProviderGoldenSpec, InatSpec, LoaderGoldenSpec) read in
  * place. Those specs fail with missing-file errors where the checkout
  * is absent.
  */
object ReferenceFixtures {
  val root = "/root/reference"
}
