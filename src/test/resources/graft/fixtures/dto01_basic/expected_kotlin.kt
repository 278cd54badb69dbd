import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.JsonNode

data class RecordUser(
    val id: Long,
    val email: String?
)

data class Record(
    val id: Long,
    val name: String?,
    val price: Double,
    val active: Boolean,
    val tags: JsonNode?,
    val user: RecordUser,
    @JsonProperty("display-name")
    val displayName: String
)
