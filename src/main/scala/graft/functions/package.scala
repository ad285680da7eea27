package graft

/** Custom Catalyst expressions and aggregates behind the operators.
  *
  * One kernel per expression: a scalar expression's loop is written once,
  * as a method on its companion object (for example
  * [[functions.PearsonAligned.pearson]] or [[functions.ShingleOps.shingles]]).
  * `nullSafeEval` calls it, and `doGenCode` emits one static call to it,
  * handing over any per-operator state the generated class keeps: a reused
  * scratch buffer from `addMutableState`, or a codebook from
  * `addReferenceObj`. Interpreted evaluation (codegen fallback, local
  * relations) and generated code therefore run the same arithmetic and the
  * same null contract, and the property specs pin both paths.
  */
package object functions
