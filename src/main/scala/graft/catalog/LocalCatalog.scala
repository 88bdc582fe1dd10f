package graft.catalog

import graft.schema.ConfigValue
import graft.schema.ConfigValue._

/** In-memory stand-in for the SciCat REST catalog used by SC-variable
  * lookups, dedup checks and sample queries
  * (ref: src/scicat_communication.py:14-24,134-236).
  *
  * Keys are rendered endpoint URLs (the engine's analogue of
  * `render_full_url`); values are the JSON documents the REST call would
  * return. Serializable so it broadcasts to executors — the engine-side
  * equivalent of a broadcast-DataFrame lookup join; production would
  * swap in an HTTP client inside `foreachBatch` (same interface).
  */
final case class LocalCatalog(entries: Map[String, String]) extends Catalog {

  /** GET + optional single-field projection
    * (ref: retrieve_value_from_scicat, scicat_communication.py:14-24).
    * Returns the result as JSON text. */
  def lookupJson(url: String, field: String): Option[String] =
    entries.get(url).flatMap(Catalog.projectField(_, field))

  override def datasetExists(pid: String): Boolean = datasetPids.contains(pid)

  override def metadataValueExists(key: String, value: String): Boolean =
    metadataValues(key).contains(value)

  override def enumeratePids: Option[Set[String]] = Some(datasetPids)

  override def enumerateMetadataValues(key: String): Option[Set[String]] =
    Some(metadataValues(key))

  /** In-memory creation is a dry-run: the document is returned
    * unchanged (the JSON-file sink is the inspectable K1/K2 surface for
    * tests; [[HttpScicatCatalog]] is the real POST path). */
  override def createDataset(datasetJson: String): String = datasetJson

  override def createOrigDatablock(datablockJson: String): String = datablockJson

  /** Existing dataset pids — the dedup anti-join side
    * (ref: check_dataset_by_pid, scicat_communication.py:161-193). */
  def datasetPids: Set[String] =
    entries.keysIterator.collect {
      case k if k.startsWith("datasets/") => k.stripPrefix("datasets/")
    }.toSet

  /** F7: existing values of `scientificMetadata.<key>.value` across the
    * catalog's datasets — the exists-by-metadata dedup side
    * (ref: check_dataset_by_metadata, scicat_communication.py:196-236,
    * Mongo filter {"where": {"scientificMetadata.<key>.value": v}}). */
  def metadataValues(key: String): Set[String] =
    entries.iterator.collect { case (k, doc) if k.startsWith("datasets/") =>
      Some(ConfigValue.fromJson(doc)).collect { case m: CMap => m }
        .flatMap(_.get("scientificMetadata")).collect { case sm: CMap => sm }
        .flatMap(_.get(key)).collect { case item: CMap => item }
        .flatMap(_.get("value")).map {
          case CStr(s) => s
          case CLong(v) => v.toString
          case CDouble(v) => v.toString
          case other => other.toString
        }
    }.flatten.toSet

  /** J2: sample query by (name, proposalId) → sampleId list
    * (ref: query_sample, scicat_communication.py:134-158). Entries keyed
    * `samples/<name>/<proposalId>` hold a JSON array of sampleIds. */
  def querySamples(name: String, proposalId: String): Seq[String] =
    entries.get(s"samples/$name/$proposalId").toSeq.flatMap(Catalog.sampleIds)
}

object LocalCatalog {
  val empty: LocalCatalog = LocalCatalog(Map.empty)
}
